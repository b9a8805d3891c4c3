"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  The query set is broadcast, so cost is |queries| × |corpus| dot
  products with no shuffle on the corpus side; fine for small query
  sets at any corpus size.
- ``embedding_near_dup_pairs``: all-pairs above a cosine threshold —
  quadratic; kept ONLY as the recall/test oracle, never registered.
- ``embedding_near_dup_lsh``: the registered scale path — multi-table
  random-hyperplane LSH candidates, then exact cosine verification.
- ``lsh_bucket_assignments`` / ``lsh_topk``: random-hyperplane LSH.
  Each vector lands in one of 2^H buckets per hash table; candidate
  search becomes an equi-join on (table, bucket). Hyperplanes are
  deterministic (fixed-seed LCG), so results are reproducible and
  oracle-checkable (the DuckDB oracle runs the identical pipeline).

Multi-table LSH scale shape: with L tables of 2^H buckets each and a
per-bucket size cap c, candidate generation costs at most L·n·c pair
evaluations — LINEAR in corpus size (the cap drops degenerate buckets,
which carry no near-dup signal, the way hot shingles are dropped in
n-gram dedup). Recall at a given cosine threshold is tuned by
(H, L): wider buckets (small H) and more tables (large L) raise
recall; the cap bounds the cost of wide buckets.

Cosine and dot-product math is built-in higher-order functions (JVM
codegen). The one Python stage is the LSH bucket assignment
(``_assign_buckets_arrow``): an Arrow-batched NumPy ``mapInArrow``
pass, bit-identical to the JVM fold. There are no row-at-a-time
Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo2pq_spark.functions.hashing import _lcg
from mongo2pq_spark.functions.vectors import cosine, dot, norm
from mongo2pq_spark.operators.cache import cache_stream

DEFAULT_HYPERPLANES = 16
#: multi-table defaults for the near-dup path: 16 tables × 2^5 buckets.
#: Tuned for threshold≈0.4 (recall ~0.9 on the fixture); at higher
#: thresholds fewer/narrower tables suffice.
NEAR_DUP_TABLES = 16
NEAR_DUP_PLANES = 5
#: multi-table defaults for approximate top-k: 6 tables × 2^10 buckets
#: (never a self-join on a small key; union of tables recovers recall).
TOPK_TABLES = 6
TOPK_PLANES = 10
#: per-(table, bucket) size cap: buckets larger than this are dropped
#: before the self-join (degenerate/boilerplate regions — bounding the
#: join at L·n·cap candidates, linear in corpus size).
DEFAULT_MAX_BUCKET = 10_000


def hyperplanes(n: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim (fixed
    LCG — the same constants are baked into oracle SQL)."""
    gen = _lcg(seed)
    return [
        [(next(gen) % 2_000_001) / 1_000_000.0 - 1.0 for _ in range(dim)]
        for _ in range(n)
    ]


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector (self-matches excluded).

    Similarity is rounded to 6 dp BEFORE ranking so ordering is stable
    across engines; ties break on neighbor id.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        norm(F.col(vec_col)).alias("query_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("vec_norm"),
    )
    # norms live below the join (once per vector, not per pair); the
    # per-pair expression is a single dot fold — same IEEE op order as
    # cosine(), so values stay oracle-exact
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("query_vec"), F.col("vec"))
                / (F.col("query_norm") * F.col("vec_norm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query
    vector, the k most-similar corpus vectors with a DIFFERENT label —
    the near-misses a contrastive loss learns most from (random
    in-batch negatives are overwhelmingly trivial). ``cosine_topk``
    with the label-mismatch predicate pushed below the ranking window,
    same scale shape: queries broadcast, corpus scanned once and never
    shuffled, per-pair work one dot fold, similarity rounded to 6 dp
    before ranking (ties on neighbor id) so ordering is
    oracle-stable."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        norm(F.col(vec_col)).alias("query_norm"),
        F.col(label_col).alias("query_label"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("vec_norm"),
        F.col(label_col).alias("neighbor_label"),
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("query_label"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round(
                dot(F.col("query_vec"), F.col("vec"))
                / (F.col("query_norm") * F.col("vec_norm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "neighbor_label",
            "cosine_sim", "rank",
        )
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold (vec_a < vec_b).

    Quadratic by construction — the exact verification/recall oracle
    for ``embedding_near_dup_lsh``; do not run on large corpora."""
    a = df.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def lsh_bucket_column(
    vec_col: Column,
    n_hyperplanes: int = DEFAULT_HYPERPLANES,
    dim: int = 64,
    seed: int = 7,
) -> Column:
    """sign-bucket id as a plain Column expression (bit h set ⇔
    dot(v, hyperplane_h) > 0) — attachable in-place with zero shuffles.

    Data-driven form: ONE transform over a constant array-of-planes
    literal computes every dot, one fold assembles the bits — a single
    small generated class instead of H inlined dot trees (many distinct
    codegen classes turn the lambda-eval call sites megamorphic and
    slow every later HOF in the session ~3×)."""
    planes = hyperplanes(n_hyperplanes, dim, seed)
    planes_lit = F.array(*[F.array(*[F.lit(c) for c in p]) for p in planes])
    weights_lit = F.array(
        *[F.lit(1 << h).cast("bigint") for h in range(n_hyperplanes)]
    )
    return F.aggregate(
        F.zip_with(
            F.transform(planes_lit, lambda p: dot(vec_col, p)),
            weights_lit,
            lambda d, w: F.when(d > 0, w).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _assign_buckets_arrow(
    df: DataFrame,
    planes_2d: list,
    id_col: str,
    vec_col: str,
    emit_table_id: bool,
) -> DataFrame:
    """Shared Arrow/NumPy sign-bucket assignment: one ``mapInArrow``
    pass computing every (table, plane) dot product by SEQUENTIAL
    per-dimension accumulation — bit-identical to the JVM
    ``aggregate``'s strict left fold (same float→double casts, same
    IEEE add order per element), proven by exact-set equality against
    the HOF formulation in tests and by the unchanged DuckDB oracle.

    Why Python here at all (everything else in the module is JVM
    math): the assignment is the ONE map-shaped stage whose
    per-row work is L·H·dim floating multiplies — interpreted
    lambda-eval in the JVM HOF chain, vectorized NumPy per Arrow
    batch here (guide §4.2). Measured r19: 16×5 planes over 64 dims,
    0.68 s (HOF, warm) → 0.24 s (Arrow) for the assignment pass at
    sf0.1. Only ``id_col`` and ``vec_col`` cross the boundary; the
    candidate join / verify stages stay pure JVM.

    Spark comparison semantics are preserved exactly: ``dot > 0`` in
    Spark SQL is TRUE for NaN (NaN sorts above all numerics), so the
    bit test is ``(acc > 0) | isnan(acc)``. Inputs must be non-null
    fixed-width vectors (the embedding contract everywhere else in
    this module — ragged or null rows raise rather than silently
    diverging from the HOF formulation's null-propagation)."""
    import numpy as np

    from mongo2pq_spark.deploy import ensure_shipped

    ensure_shipped(df.sparkSession)
    P = np.asarray(planes_2d, dtype=np.float64)  # (L, H, dim)
    L, H, dim = P.shape

    def assign(batches):
        import numpy as np  # noqa: F811 (executor-side import)
        import pyarrow as pa  # noqa: F811

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0)
            vecs = rb.column(1)
            # values is the backing buffer (absolute offsets — a
            # sliced batch does not start at 0): only the elements
            # inside off[0]:off[-1] belong to this batch
            off = np.asarray(vecs.offsets)
            values = vecs.values.slice(int(off[0]), int(off[-1] - off[0]))
            if vecs.null_count or values.null_count:
                raise ValueError(
                    "lsh assignment: null vector/element (embeddings "
                    "are a non-null fixed-width contract)"
                )
            if not ((off[1:] - off[:-1]) == dim).all():
                raise ValueError(
                    f"lsh assignment: ragged vector (expected dim={dim})"
                )
            X = np.asarray(values).reshape(n, dim).astype(np.float64)
            # strict left fold per element: acc = ((x0·p0 + x1·p1) + …)
            # — never einsum/BLAS, whose re-associated sums would not
            # be bit-identical to the JVM fold
            acc = np.zeros((n, L, H), dtype=np.float64)
            for d in range(dim):
                acc += X[:, d, None, None] * P[None, :, :, d]
            pos = (acc > 0) | np.isnan(acc)  # Spark: NaN > 0 is true
            bucket = (
                pos.astype(np.int64) << np.arange(H, dtype=np.int64)
            ).sum(axis=2)
            if emit_table_id:
                take = pa.array(np.repeat(np.arange(n, dtype=np.int64), L))
                yield pa.record_batch(
                    [
                        ids.take(take),
                        pa.array(np.tile(np.arange(L, dtype=np.int32), n)),
                        pa.array(bucket.reshape(-1)),
                    ],
                    names=[id_col, "table_id", "bucket"],
                )
            else:
                yield pa.record_batch(
                    [ids, pa.array(bucket[:, 0])],
                    names=[id_col, "bucket"],
                )

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, table_id int, bucket bigint"
        if emit_table_id
        else f"{id_col} {id_type}, bucket bigint"
    )
    return df.select(id_col, vec_col).mapInArrow(assign, out_schema)


def lsh_bucket_assignments(
    df: DataFrame,
    n_hyperplanes: int = DEFAULT_HYPERPLANES,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """vector → sign-bucket id (narrow map pass, no shuffle; Arrow
    batch math — see ``_assign_buckets_arrow``). For an in-place
    Column (attachable inside a wider projection) use
    ``lsh_bucket_column``."""
    planes_2d = [hyperplanes(n_hyperplanes, dim, seed)]
    return _assign_buckets_arrow(
        df, planes_2d, id_col, vec_col, emit_table_id=False
    )


def lsh_multi_assignments(
    df: DataFrame,
    n_tables: int,
    n_hyperplanes: int,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table_id, bucket): one row per (vector, hash table).

    All L·H hyperplane dot products happen in ONE Arrow-batched NumPy
    pass (``_assign_buckets_arrow``; r19 — previously a data-driven
    nested ``transform``/``aggregate`` HOF tree, whose interpreted
    lambda-eval was the measured bottleneck of the assignment stage:
    0.68 s → 0.24 s warm at sf0.1 for 16 tables × 5 planes). The
    emitted rows are three small ints per (vector, table) — vectors
    are NOT shipped; candidate verification re-joins them by id
    later."""
    planes_2d = [
        hyperplanes(n_hyperplanes, dim, seed + t) for t in range(n_tables)
    ]
    return _assign_buckets_arrow(
        df, planes_2d, id_col, vec_col, emit_table_id=True
    )


#: past this many oversized (table, bucket) entries the guard stops
#: forcing a broadcast — L·n/cap is small for real corpora, but a
#: pathological one (everything in a handful of buckets at a tiny cap)
#: could push the build side past the driver's broadcast limit
OVERSIZED_BROADCAST_LIMIT = 1_000_000


def _cap_buckets(
    assignments: DataFrame,
    max_bucket_size: int,
    broadcast_limit: int = OVERSIZED_BROADCAST_LIMIT,
) -> DataFrame:
    """Drop every (table, bucket) group larger than the cap BEFORE the
    self-join — the guard that keeps candidate generation linear.

    The oversized-bucket set is bounded at L·n/cap entries (each holds
    > cap of the L·n assignment rows), so it normally broadcasts: the
    guard is a map-side-combinable count + a broadcast anti-join —
    never a window, which would shuffle the FULL assignment stream by
    (table, bucket) just to count it (same pattern as the hot-shingle
    guard in ngram dedup). The hint is gated on a BOUNDED count of the
    oversized set — ``limit(broadcast_limit + 1)`` short-circuits the
    guard job as soon as the limit is provably cleared or exceeded, so
    the common small-oversized-set case never pays a full count: a
    degenerate corpus whose oversized set exceeds ``broadcast_limit``
    falls back to an unhinted join and lets AQE pick the strategy at
    runtime — unconditionally safe.

    Self-contained: the assignment stream is cached HERE, so the guard
    job can never trigger a second full L×n hyperplane projection for
    an uncached caller. This is not idempotent across calls: each
    ``lsh_multi_assignments`` call wraps a fresh Python function, so
    its ``mapInArrow`` plan never ``sameSemantics``-matches an earlier
    one, and every call registers (and on its first action computes)
    its own copy — in the current cache scope, or in the bounded
    registry outside one (``operators/cache.py``)."""
    assignments = cache_stream(assignments)
    oversized = (
        assignments.groupBy("table_id", "bucket")
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket_size)
        .select("table_id", "bucket")
    )
    within_limit = (
        oversized.limit(broadcast_limit + 1).count() <= broadcast_limit
    )
    probe = F.broadcast(oversized) if within_limit else oversized
    return assignments.join(probe, ["table_id", "bucket"], "left_anti")


def lsh_candidate_pairs(
    df: DataFrame,
    n_tables: int = NEAR_DUP_TABLES,
    n_hyperplanes: int = NEAR_DUP_PLANES,
    dim: int = 64,
    seed: int = 7,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distinct undirected candidate pairs (id_a < id_b) that share a
    bucket in ≥1 of the L hash tables. Ids only — verification joins
    vectors back."""
    # the assignment stream feeds the oversized-bucket build, the
    # anti-join probe, and BOTH self-join sides — _cap_buckets caches
    # it once (the 80-dot-product projection would otherwise run per
    # consumer)
    asg = _cap_buckets(
        lsh_multi_assignments(
            df, n_tables, n_hyperplanes, dim, seed, id_col, vec_col
        ),
        max_bucket_size,
    )
    a = asg.select("table_id", "bucket", F.col(id_col).alias("id_a"))
    b = asg.select("table_id", "bucket", F.col(id_col).alias("id_b"))
    return (
        a.join(b, ["table_id", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    threshold: float = 0.4,
    n_tables: int = NEAR_DUP_TABLES,
    n_hyperplanes: int = NEAR_DUP_PLANES,
    dim: int = 64,
    seed: int = 7,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs at scale: multi-table LSH candidates →
    exact cosine verify ≥ threshold.

    Precision is exact (every emitted pair really clears the
    threshold); recall < 1 by LSH construction and is tuned by
    (n_tables, n_hyperplanes) — defaults hit ~0.9 at threshold 0.4.
    Deterministic (fixed-seed hyperplanes), so the DuckDB oracle runs
    the identical pipeline and values match bit-for-bit."""
    cand = lsh_candidate_pairs(
        df, n_tables, n_hyperplanes, dim, seed, max_bucket_size, id_col, vec_col
    )
    # norms precomputed ONCE per vector (below the join) — cosine on
    # every candidate pair then costs one array fold instead of three;
    # same IEEE ops in the same order, so values stay oracle-exact
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm(F.col(vec_col)).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm(F.col(vec_col)).alias("nb"),
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.col("id_a").alias("vec_a"),
            F.col("id_b").alias("vec_b"),
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int = 10_000,
) -> DataFrame:
    """IVF-style ANN: a KMeans coarse quantizer (Spark ML, fixed seed)
    partitions the corpus into inverted lists; each query probes its
    ``n_probe`` nearest centroids and ranks exact cosine only within
    those lists.

    Scale shape: training runs on a bounded sample; assignment is a
    narrow projection; the probe join is an equi-join on cluster id —
    cost ≈ n_probe/n_clusters of brute force. Results are
    deterministic (fixed seed + fixed init) but approximate, so this
    registers as a rows-only check; recall vs brute force is asserted
    in tests.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.sql import Window

    corpus_vec = df.select(
        F.col(id_col), F.col(vec_col), array_to_vector(F.col(vec_col)).alias("features")
    )
    # train the quantizer on a bounded, DETERMINISTIC sample (ordered
    # limit), never the full corpus — 20 KMeans passes over 100 TB
    # would dwarf the search itself; assignment still covers every row
    train = corpus_vec.orderBy(id_col).limit(max_train_rows)
    model = KMeans(k=n_clusters, seed=seed, maxIter=20).fit(train)
    assigned = model.transform(corpus_vec).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        F.col("prediction").alias("cluster"),
    )

    centroids = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    centroid_rows = df.sparkSession.createDataFrame(
        centroids, "cluster int, centroid array<double>"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    # each query ranks centroids by distance, keeps n_probe lists
    q_cent = q.crossJoin(F.broadcast(centroid_rows)).select(
        "query_id",
        "qv",
        "cluster",
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("qv"),
                    F.col("centroid"),
                    lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ).alias("dist"),
    )
    w_probe = Window.partitionBy("query_id").orderBy("dist", "cluster")
    probed = (
        q_cent.withColumn("probe_rank", F.row_number().over(w_probe))
        .filter(F.col("probe_rank") <= n_probe)
        .select("query_id", "qv", "cluster")
    )
    sims = (
        probed.join(assigned, "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def lsh_topk(
    df: DataFrame,
    k: int = 5,
    n_tables: int = TOPK_TABLES,
    n_hyperplanes: int = TOPK_PLANES,
    dim: int = 64,
    seed: int = 7,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share a bucket in ≥1 of L
    independent hash tables; exact cosine ranks the candidate union.

    Each table uses 2^H buckets (H=10 default → 1024 — never a
    self-join on a small key); the per-bucket cap bounds the join at
    L·n·cap candidate rows. Recall < 1 by construction; more tables
    raise recall at linear cost."""
    from pyspark.sql import Window

    asg = _cap_buckets(
        lsh_multi_assignments(
            df, n_tables, n_hyperplanes, dim, seed, id_col, vec_col
        ),
        max_bucket_size,
    )
    a = asg.select("table_id", "bucket", F.col(id_col).alias("query_id"))
    b = asg.select("table_id", "bucket", F.col(id_col).alias("neighbor_id"))
    cand = (
        a.join(b, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # norms precomputed once per vector below the join (not per pair)
    q = df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    c = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        norm(F.col(vec_col)).alias("nn"),
    )
    sims = cand.join(q, "query_id").join(c, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 6
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def segment_mean_vectors(
    df: DataFrame,
    seg_col,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-segment per-dimension embedding means: ``(segment, dim,
    mean_val, n_vecs)`` — the distributed column-mean primitive under
    drift monitoring and centroid analyses.

    ``seg_col`` may be a column name or an expression (e.g.
    ``F.pmod("vec_id", 2)`` to split a corpus into comparison halves).

    Scale shape: ONE posexplode (linear in n·dim) into ONE map-side-
    combinable (segment, dim) aggregate — never a driver collect of
    vectors; the result is segments × dim rows, grid-sized regardless
    of corpus size."""
    seg = F.col(seg_col) if isinstance(seg_col, str) else seg_col
    return (
        df.select(
            seg.alias("segment"),
            F.posexplode(F.col(vec_col)).alias("dim", "v"),
        )
        .groupBy("segment", "dim")
        .agg(
            F.avg("v").alias("mean_val"),
            F.count("*").alias("n_vecs"),
        )
    )


def embedding_drift(
    df: DataFrame,
    seg_col,
    vec_col: str = "embedding",
) -> DataFrame:
    """Drift report between exactly TWO segments of an embedding
    corpus (today-vs-yesterday shards, model-A-vs-model-B encodings,
    train-vs-eval splits): cosine similarity between the segment MEAN
    vectors, the L2 norm of the mean shift, and the single dimension
    with the largest absolute shift — the cheap first-line monitor
    that catches encoder regressions and distribution shift before
    expensive re-evaluation.

    Built entirely on ``segment_mean_vectors``: after the one linear
    pass, everything computes on 2 × dim rows (a broadcast-sized
    self-join on dim). Output is ONE row:
    ``(mean_cosine, shift_l2, max_shift_dim, max_shift)``.
    Deterministic — exact means, no sampling, and an explicit
    tiebreak: ``max_shift_dim`` is the LOWEST dim achieving the max
    absolute shift (``max_by`` alone is nondeterministic on ties, and
    ties are guaranteed in the zero-drift case where every shift is
    exactly 0.0). The unpartitioned window below runs on dim-sized
    data (2 × dim rows), never on the corpus."""
    from pyspark.sql import Window

    means = segment_mean_vectors(df, seg_col, vec_col)
    # validation collect BOUNDED at 3 rows: enough to prove the
    # segment count is not exactly 2, even under a mistakenly
    # high-cardinality seg_col (never pulls the full distinct set)
    segs = [
        r.segment
        for r in means.select("segment").distinct().limit(3).collect()
    ]
    if len(segs) != 2:
        # key=repr: the diagnostic must not itself crash on mixed or
        # NULL segment values (None < int raises TypeError)
        shown = sorted(segs, key=repr)
        raise ValueError(
            f"embedding_drift needs exactly 2 segments, got {shown!r}"
            + (" (3+ shown as 3)" if len(segs) == 3 else "")
        )
    lo, hi = sorted(segs)
    a = means.filter(F.col("segment") == lo).select(
        "dim", F.col("mean_val").alias("ma")
    )
    b = means.filter(F.col("segment") == hi).select(
        "dim", F.col("mean_val").alias("mb")
    )
    j = (
        a.join(b, "dim")
        .withColumn("shift", F.abs(F.col("ma") - F.col("mb")))
        .withColumn("mx", F.max("shift").over(Window.partitionBy()))
    )
    return j.agg(
        F.round(
            F.sum(F.col("ma") * F.col("mb"))
            / (
                F.sqrt(F.sum(F.col("ma") * F.col("ma")))
                * F.sqrt(F.sum(F.col("mb") * F.col("mb")))
            ),
            6,
        ).alias("mean_cosine"),
        F.round(
            F.sqrt(F.sum(F.col("shift") * F.col("shift"))), 6
        ).alias("shift_l2"),
        F.min(
            F.when(F.col("shift") == F.col("mx"), F.col("dim"))
        ).cast("bigint").alias("max_shift_dim"),
        F.round(F.max("shift"), 6).alias("max_shift"),
    )


def semdedup_prune(
    df: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.92,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int = 10_000,
    max_cluster_size: int = 10_000,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): KMeans-cluster the embedding space, then within
    each cluster drop every vector whose exact cosine similarity to a
    LOWER-id cluster member reaches ``threshold`` — the deterministic
    stand-in for the paper's keep-one-per-similar-group rule (lowest
    id survives; the rule is non-iterative, so a vector's fate depends
    only on its cluster's lower-id members, never on cascade order).
    Returns ``(id, cluster, kept)`` for EVERY input vector.

    This complements the LSH path (``embedding_near_dup_lsh``): LSH
    finds near-DUPLICATES (very high cosine) with per-pair candidate
    generation; SemDeDup prunes semantic REDUNDANCY regions at lower
    thresholds, where LSH bucket collision rates degrade, by letting a
    learned quantizer define the candidate scope instead.

    Scale shape: the quantizer trains on a bounded deterministic
    sample (never the corpus); assignment is one narrow map; the prune
    is an equi-join on cluster id costing Σ cᵢ² pair evaluations. The
    SemDeDup deployment contract is ``n_clusters`` ∝ corpus size (mean
    cluster size held constant — the paper uses 50k clusters for
    ~100M embeddings), which keeps that join linear. Against
    assignment skew, clusters larger than ``max_cluster_size`` are
    deterministically sub-bucketed by LSH sign-bits before the join —
    bounding the worst cluster's cost at (size/2^B)·size pairs per
    sub-bucket while only ever UNDER-pruning (cross-sub-bucket pairs
    are missed, duplicates are never invented) — the same honesty
    trade as ``_cap_buckets``. All cosine math is built-in HOFs
    (JVM codegen); KMeans is Spark ML with a fixed seed.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corpus_vec = df.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(F.col(vec_col)).alias("features"),
    )
    train = corpus_vec.orderBy(id_col).limit(max_train_rows)
    # k-means|| init for quantizer quality, but 10 Lloyd iterations:
    # the prune only needs a stable locality partition, not converged
    # centroids, and the fit is the query's driver-side constant
    model = KMeans(k=n_clusters, seed=seed, maxIter=10).fit(train)
    assigned = cache_stream(
        model.transform(corpus_vec).select(
            F.col(id_col),
            F.col(vec_col),
            F.col("prediction").alias("cluster"),
        )
    )
    # skew guard: sub-bucket oversized clusters by deterministic LSH
    # sign-bits (4 planes → 16 sub-buckets); normal clusters keep one
    # sub-bucket so the guard is a no-op for them
    sizes = assigned.groupBy("cluster").agg(F.count("*").alias("c_size"))
    sub = F.when(
        F.col("c_size") > max_cluster_size,
        lsh_bucket_column(F.col(vec_col), 4, dim, seed),
    ).otherwise(F.lit(0).cast("bigint"))
    keyed = assigned.join(F.broadcast(sizes), "cluster").select(
        F.col(id_col), F.col(vec_col), "cluster", sub.alias("sub_key")
    )
    lo = keyed.select(
        "cluster",
        "sub_key",
        F.col(id_col).alias("lo_id"),
        F.col(vec_col).alias("lo_vec"),
    )
    hi = keyed.select(
        "cluster",
        "sub_key",
        F.col(id_col).alias("hi_id"),
        F.col(vec_col).alias("hi_vec"),
    )
    dropped = (
        lo.join(hi, ["cluster", "sub_key"])
        .filter(F.col("lo_id") < F.col("hi_id"))
        .filter(
            F.round(cosine(F.col("lo_vec"), F.col("hi_vec")), 6)
            >= threshold
        )
        .select(F.col("hi_id").alias(id_col))
        .distinct()
    )
    return assigned.join(
        dropped.withColumn("__dropped", F.lit(True)), id_col, "left"
    ).select(
        F.col(id_col),
        F.col("cluster").cast("bigint").alias("cluster"),
        F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
    )


def embedding_incremental_near_dups(
    new_df: DataFrame,
    index_df: DataFrame,
    threshold: float = 0.4,
    n_tables: int = NEAR_DUP_TABLES,
    n_hyperplanes: int = NEAR_DUP_PLANES,
    dim: int = 64,
    seed: int = 7,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_asg: DataFrame | None = None,
) -> DataFrame:
    """Incremental EMBEDDING dedup — the new-batch-vs-corpus ingestion
    pattern for the vector modality, completing the incremental matrix
    (text digests/bands, image/audio Hamming fingerprints, now
    embedding LSH buckets): flag each new-batch vector by whether its
    exact cosine to ANY corpus vector reaches ``threshold``, with
    candidates restricted to multi-table LSH bucket collisions.
    Returns the new batch's ``(id, is_new)``.

    ``index_asg``: the corpus's PRECOMPUTED ``(id, table_id, bucket)``
    assignment table (as persisted by an ingestion store and appended
    per increment). When omitted it is derived from ``index_df``
    in-flight — fine for a one-shot query, but a steady-state pipeline
    passes the persisted table so per-increment COMPUTE stays
    O(increment): only the increment's L·n hyperplane dots run; the
    corpus side is a columnar read of three small ints per (vector,
    table). The assignments must have been produced with the same
    (n_tables, n_hyperplanes, dim, seed).

    Scale shape: the increment's L bucket ids probe the corpus
    assignments via an equi-join on (table_id, bucket) —
    O(increment·L + collisions), the corpus is never pair-joined with
    itself. At deployment the corpus side is a PERSISTED index (the
    (id, table_id, bucket) projection plus the id→vector table,
    bucketed by id for a co-located verify join, appended per
    increment exactly like the band stores in plans/bandstore_core) —
    here it is computed in-flight because the registered fixture's
    corpus is small. The bucket-size cap applies to the CORPUS side
    (the increment is bounded by definition): a degenerate corpus
    bucket is dropped from candidate generation, which can only
    UNDER-flag (an is_new=false can still arise via any other table) —
    the same honesty trade as ``_cap_buckets``. Precision of flagged
    dups is exact (cosine-verified); recall < 1 by LSH construction,
    tuned by (n_tables, n_hyperplanes)."""
    inc_asg = lsh_multi_assignments(
        new_df, n_tables, n_hyperplanes, dim, seed, id_col, vec_col
    )
    idx_asg = _cap_buckets(
        lsh_multi_assignments(
            index_df, n_tables, n_hyperplanes, dim, seed, id_col, vec_col
        )
        if index_asg is None
        else index_asg,
        max_bucket_size,
    )
    cand = (
        inc_asg.select(
            "table_id", "bucket", F.col(id_col).alias("inc_id")
        )
        .join(
            idx_asg.select(
                "table_id", "bucket", F.col(id_col).alias("idx_id")
            ),
            ["table_id", "bucket"],
        )
        .select("inc_id", "idx_id")
        .distinct()
    )
    inc_vec = new_df.select(
        F.col(id_col).alias("inc_id"),
        F.col(vec_col).alias("iv"),
        norm(F.col(vec_col)).alias("inorm"),
    )
    idx_vec = index_df.select(
        F.col(id_col).alias("idx_id"),
        F.col(vec_col).alias("xv"),
        norm(F.col(vec_col)).alias("xnorm"),
    )
    dup_ids = (
        cand.join(inc_vec, "inc_id")
        .join(idx_vec, "idx_id")
        .filter(
            F.round(
                dot(F.col("iv"), F.col("xv"))
                / (F.col("inorm") * F.col("xnorm")),
                6,
            )
            >= threshold
        )
        .select("inc_id")
        .distinct()
    )
    return new_df.select(F.col(id_col)).join(
        dup_ids.withColumnRenamed("inc_id", id_col).withColumn(
            "__dup", F.lit(True)
        ),
        id_col,
        "left",
    ).select(
        F.col(id_col),
        F.coalesce(~F.col("__dup"), F.lit(True)).alias("is_new"),
    )


def _gram_sums(df: DataFrame, vec_col: str) -> DataFrame:
    """Map-side Gram partials reduced to one bounded sums table:
    rows (i, j≥0, Σx_i·x_j) for the upper triangle, (i, -1, Σx_i)
    linear sums, and (-1, -1, n). ONE corpus pass feeds covariance
    AND the per-dimension means PCA needs — callers must not rescan
    the vectors for statistics this table already carries."""
    from mongo2pq_spark.deploy import ensure_shipped

    ensure_shipped(df.sparkSession)

    def gram_partials(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            vecs = pdf[vec_col].tolist()
            if not vecs:
                continue
            X = np.asarray(vecs, dtype=np.float64)
            d = X.shape[1]
            g = X.T @ X
            sx = X.sum(axis=0)
            iu, ju = np.triu_indices(d)
            out = pd.DataFrame(
                {"i": iu, "j": ju, "s": g[iu, ju]}
            )
            lin = pd.DataFrame(
                {"i": np.arange(d), "j": np.full(d, -1), "s": sx}
            )
            cnt = pd.DataFrame({"i": [-1], "j": [-1], "s": [float(len(X))]})
            yield pd.concat([out, lin, cnt], ignore_index=True)

    partials = df.select(vec_col).mapInPandas(
        gram_partials, "i int, j int, s double"
    )
    return cache_stream(
        partials.groupBy("i", "j").agg(F.sum("s").alias("s"))
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Population covariance matrix of an embedding column as
    (dim_i, dim_j, cov) rows for the upper triangle (i ≤ j) — the
    cross-dimension statistic ``embedding_dim_stats`` (per-dim
    mean/std) cannot see: correlated/collapsed dimensions, the input
    to whitening and PCA.

    Shape at 100 TB: the classic MAP-SIDE GRAM pattern — each Arrow
    batch reduces to one d×d partial (Σxxᵀ, Σx, n) on the executor,
    so the shuffle carries O(batches · d²) tiny rows, never the
    vectors; a per-pair self-join formulation would amplify the
    corpus d²-fold through a shuffle instead. Final assembly is one
    partial-agg groupBy plus two bounded broadcast joins (d-row means,
    1-row count). Output is d(d+1)/2 rows — bounded by the embedding
    width, independent of corpus size.
    """
    sums = _gram_sums(df, vec_col)
    n_tbl = (
        sums.filter((F.col("i") == -1) & (F.col("j") == -1))
        .select(F.col("s").alias("n"))
    )
    means = (
        sums.filter((F.col("j") == -1) & (F.col("i") >= 0))
        .crossJoin(F.broadcast(n_tbl))
        .select(F.col("i").alias("d"), (F.col("s") / F.col("n")).alias("m"))
    )
    cross = sums.filter(F.col("j") >= 0)
    return (
        cross.join(
            F.broadcast(means.select(F.col("d").alias("i"), F.col("m").alias("mi"))),
            "i",
        )
        .join(
            F.broadcast(means.select(F.col("d").alias("j"), F.col("m").alias("mj"))),
            "j",
        )
        .crossJoin(F.broadcast(n_tbl))
        .select(
            F.col("i").cast("bigint").alias("dim_i"),
            F.col("j").cast("bigint").alias("dim_j"),
            # + 0.0 canonicalizes IEEE -0.0 (a tiny negative rounds
            # to negative zero, which string-renders as "-0")
            (
                F.round(
                    F.col("s") / F.col("n") - F.col("mi") * F.col("mj"), 6
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def pca_project(
    df: DataFrame,
    k: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Project embeddings onto their top-k principal components — the
    dimensionality-reduction step that makes downstream near-dup /
    clustering passes cheaper at equal recall (SemDeDup-style
    pipelines run on reduced vectors).

    The Gram-sums table is BOUNDED (O(d²) rows, independent of corpus
    size), so its collect here is a documented bounded driver
    materialization — same class as the 3-row drift validation; ONE
    corpus pass yields covariance and means together, the
    eigendecomposition is driver-side numpy on the d×d matrix, and
    the PROJECTION is JVM-side column arithmetic: per component an
    ``aggregate(zip_with(x − μ, w, ·*·), +)`` fold over literal
    component arrays — no Python in the per-row path, no shuffle.
    Component sign is fixed deterministically (largest-|coordinate|
    made positive) so results are reproducible across BLAS builds.
    """
    import numpy as np

    # ONE corpus pass: the Gram sums table carries Σxxᵀ, Σx and n, so
    # covariance AND means both come from this bounded (O(d²)-row)
    # collect — re-scanning the vectors for means would double the
    # scan the map-side-Gram shape exists to avoid
    sums = {
        (r["i"], r["j"]): r["s"]
        for r in _gram_sums(df, vec_col).collect()
    }
    n = sums[(-1, -1)]
    d = max(j for _, j in sums) + 1
    mu = np.array([sums[(i, -1)] / n for i in range(d)])
    C = np.zeros((d, d))
    for i in range(d):
        for j in range(i, d):
            # same rounding as embedding_covariance's published rows,
            # so the numpy-mirror test pins one definition
            C[i, j] = C[j, i] = round(
                sums[(i, j)] / n - mu[i] * mu[j], 6
            )
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # k × d
    for c in range(comps.shape[0]):
        pivot = np.argmax(np.abs(comps[c]))
        if comps[c, pivot] < 0:
            comps[c] = -comps[c]

    centered = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        F.array(*[F.lit(float(v)) for v in mu]),
        lambda x, m: x - m,
    )
    out = df.select(F.col(id_col), centered.alias("__c"))
    projections = [
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("__c"),
                    F.array(*[F.lit(float(w)) for w in comps[c]]),
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias(f"pc{c}")
        for c in range(comps.shape[0])
    ]
    return out.select(F.col(id_col), *projections)


def pq_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int = 10_000,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou, Douze & Schmid 2011, TPAMI): vectors L2-normalize and
    split into ``m`` subspaces, each quantized to ``ksub`` centroids,
    so the corpus compresses to ``m`` small codes per vector (here
    8 bytes for 64 float dims — 32×) and search never touches raw
    vectors. ADC scores a query against a code by summing per-subspace
    query→centroid distances from a precomputed lookup table; on
    normalized vectors the squared-L2 ranking equals the cosine
    ranking, keeping PQ consistent with the rest of the ANN family
    (brute / LSH / IVF).

    Scale shape: codebooks train driver-side on a BOUNDED deterministic
    sample (``orderBy(id).limit(max_train_rows)`` — the inference-
    partials bounded-collect rule; Lloyd's on ≤10k×8 floats is
    microseconds and 20 passes over 100 TB would dwarf the search);
    encoding is ONE Arrow-batched corpus pass emitting m ints per row;
    the per-query lookup tables are a queries×(m·ksub) literal
    broadcast; ADC scoring is a JVM-side array fold over the broadcast
    LUT (zip_with + element_at + aggregate — no Python in the
    per-pair hot path); top-k is the two-phase salted window.
    Deterministic for a fixed seed (seeded init, fixed iterations,
    first-index argmin ties), but approximate — the registered query
    wraps it in the recall-invariant oracle (the IVF pattern).
    """
    import numpy as np
    from pyspark.sql import functions as F

    from mongo2pq_spark.deploy import ensure_shipped
    from mongo2pq_spark.operators.joins import salted_topk

    ensure_shipped(df.sparkSession)

    def _normalize(X: "np.ndarray") -> "np.ndarray":
        n = np.linalg.norm(X, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return X / n

    # -- train codebooks on the bounded sample (driver) --------------
    sample = (
        df.orderBy(id_col).limit(max_train_rows).select(vec_col).collect()
    )
    X = _normalize(np.asarray([r[0] for r in sample], dtype=np.float64))
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    rng = np.random.default_rng(seed)
    codebooks = np.empty((m, ksub, dsub))
    for mi in range(m):
        sub = X[:, mi * dsub:(mi + 1) * dsub]
        C = sub[rng.choice(len(sub), size=ksub, replace=False)].copy()
        for _ in range(10):  # fixed Lloyd iterations → deterministic
            d2 = (
                (sub * sub).sum(1)[:, None]
                - 2.0 * sub @ C.T
                + (C * C).sum(1)[None, :]
            )
            a = d2.argmin(1)
            for j in range(ksub):
                pts = sub[a == j]
                if len(pts):
                    C[j] = pts.mean(0)
        codebooks[mi] = C

    # -- encode the corpus: one Arrow-batched pass --------------------
    cb = codebooks

    def encode_batches(batches):
        import numpy as np  # noqa: F811 (executor-side import)
        import pandas as pd  # noqa: F811

        for pdf in batches:
            if pdf.empty:
                continue
            Xb = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            n = np.linalg.norm(Xb, axis=1, keepdims=True)
            n[n == 0] = 1.0
            Xb = Xb / n
            codes = np.empty((len(Xb), m), dtype=np.int32)
            for mi in range(m):
                sub = Xb[:, mi * dsub:(mi + 1) * dsub]
                d2 = (
                    (sub * sub).sum(1)[:, None]
                    - 2.0 * sub @ cb[mi].T
                    + (cb[mi] * cb[mi]).sum(1)[None, :]
                )
                codes[:, mi] = d2.argmin(1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": [c.tolist() for c in codes]}
            )

    coded = df.select(id_col, vec_col).mapInPandas(
        encode_batches, f"{id_col} long, codes array<int>"
    )

    # -- per-query ADC lookup tables (bounded query workload) --------
    qrows = queries.select(id_col, vec_col).orderBy(id_col).collect()
    luts = []
    for r in qrows:
        q = _normalize(np.asarray([r[1]], dtype=np.float64))[0]
        lut = np.concatenate(
            [
                ((cb[mi] - q[mi * dsub:(mi + 1) * dsub]) ** 2).sum(1)
                for mi in range(m)
            ]
        )
        luts.append((r[0], [float(x) for x in lut]))
    lut_df = df.sparkSession.createDataFrame(
        luts, "query_id long, lut array<double>"
    )

    # -- ADC scoring: JVM-side fold over the broadcast LUT -----------
    idxs = F.sequence(F.lit(0), F.lit(m - 1))
    dist = F.aggregate(
        F.zip_with(
            F.col("codes"),
            idxs,
            lambda c, i: F.element_at(
                F.col("lut"), (i * ksub + c + 1).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        coded.crossJoin(F.broadcast(lut_df))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(dist, 6).alias("adc_dist"),
        )
    )
    return salted_topk(
        scored,
        ["query_id"],
        [F.col("adc_dist").asc(), F.col("neighbor_id")],
        k,
        salt_src=F.col("neighbor_id"),
    ).select("query_id", "neighbor_id", "adc_dist", "rank")


def nearest_centroid_agreement(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-noise detection by nearest-centroid classification: each
    vector is assigned to the label whose MEAN embedding it is most
    cosine-similar to; a vector whose nearest centroid disagrees with
    its own label is a mislabeling candidate (the Confident-Learning /
    NCC screening step a training pipeline runs before trusting
    labels).

    Scale shape: centroids come from ``segment_mean_vectors`` (one
    posexplode into a map-side-combinable (label, dim) aggregate —
    labels×dim rows regardless of corpus size) and broadcast; the
    per-vector argmax is a GROUPED STRUCT MAX over the bounded
    labels-per-vector fan-out — never a corpus-partitioned window.
    Ties on the 6-dp-rounded similarity break to the LOWEST label
    (max of (sim, -label) structs), mirroring the oracle's
    ``ORDER BY s DESC, label`` exactly — argmax/max_by would be
    tie-nondeterministic (the embedding_drift lesson).

    Output: (id, label, nearest_label, centroid_sim, agrees).
    """
    means = segment_mean_vectors(df, label_col, vec_col=vec_col)
    cent = (
        means.groupBy("segment")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mean_val"))),
                lambda s: s["mean_val"],
            ).alias("centroid")
        )
        .select(F.col("segment").cast("int").alias("clabel"), "centroid")
    )
    sim = F.round(cosine(F.col(vec_col), F.col("centroid")), 6)
    best = (
        df.select(id_col, label_col, vec_col)
        .crossJoin(F.broadcast(cent))
        .select(
            F.col(id_col),
            F.col(label_col),
            F.struct(
                sim.alias("s"), (-F.col("clabel")).alias("negl")
            ).alias("cand"),
        )
        .groupBy(id_col, label_col)
        .agg(F.max("cand").alias("b"))
    )
    nearest = (-F.col("b.negl")).cast("int")
    return best.select(
        F.col(id_col),
        F.col(label_col),
        nearest.alias("nearest_label"),
        F.col("b.s").alias("centroid_sim"),
        (F.col(label_col) == nearest).alias("agrees"),
    )


def whiten_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    eps: float = 1e-9,
) -> DataFrame:
    """ZCA-whiten an embedding column: out = W (x − μ) with
    W = V diag(1/sqrt(λ+eps)) Vᵀ from the population covariance's
    eigendecomposition — the standardization that equalizes dimension
    scales and removes cross-dimension correlation before cosine /
    clustering / ANN passes (ZCA, not PCA-whitening, so the result
    stays maximally close to the input space). Returns
    ``(id_col, white)`` with ``white`` rounded to 6 dp.

    Scale shape mirrors ``pca_project``: statistics come from the
    ONE-pass bounded Gram-sums table (O(d²) rows collected —
    documented bounded driver materialization), the d×d eigh is
    driver-side numpy (microseconds; 100 TB never scans for this
    twice), and the transform is JVM-side column arithmetic — per
    output dimension one ``aggregate(zip_with(x−μ, w_i, ·*·), +)``
    fold over literal weight arrays; no Python in the per-row path,
    zero shuffle. The covariance here is deliberately UNROUNDED
    (unlike ``embedding_covariance``'s published 6-dp rows) so the
    whitened covariance hits identity to numerical precision — the
    registered invariant query depends on that."""
    import numpy as np

    sums = {
        (r["i"], r["j"]): r["s"]
        for r in _gram_sums(df, vec_col).collect()
    }
    n = sums[(-1, -1)]
    d = max(j for _, j in sums) + 1
    mu = np.array([sums[(i, -1)] / n for i in range(d)])
    C = np.zeros((d, d))
    for i in range(d):
        for j in range(i, d):
            C[i, j] = C[j, i] = sums[(i, j)] / n - mu[i] * mu[j]
    vals, vecs = np.linalg.eigh(C)
    W = (vecs * (1.0 / np.sqrt(vals + eps))) @ vecs.T  # ZCA: V Λ^-1/2 Vᵀ

    centered = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        F.array(*[F.lit(float(v)) for v in mu]),
        lambda x, m: x - m,
    )
    out = df.select(F.col(id_col), centered.alias("__c"))
    white = F.array(
        *[
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("__c"),
                        F.array(*[F.lit(float(w)) for w in W[i]]),
                        lambda x, w: x * w,
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            )
            for i in range(d)
        ]
    )
    return out.select(F.col(id_col), white.alias("white"))
