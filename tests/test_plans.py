"""Plan-hygiene tests: assert the physical plans have the shape the
100 TB design depends on — filters and projections pushed into the
parquet scan, small dimensions broadcast, whole-stage codegen in the
hot paths. A correct-but-badly-planned query fails here."""

from pyspark.sql import functions as F

from mongo2pq_spark.queries.registry import load_all

SPECS = load_all()


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def _formatted(spark, sf_dir, name) -> str:
    return _plan(SPECS[name].fn(spark, sf_dir))


def test_filter_is_pushed_to_scan(spark, sf_dir):
    plan = _formatted(spark, sf_dir, "filter_equality")
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)" in plan


def test_projection_prunes_scan_columns(spark, sf_dir):
    plan = _formatted(spark, sf_dir, "scan_projection")
    # ReadSchema must not include unprojected columns (props, user_id)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "props" not in read_schema and "user_id" not in read_schema


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _formatted(spark, sf_dir, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    # the only shuffle joins allowed are on the orders⋈lineitem axis
    assert plan.count("SortMergeJoin") <= 1


def _broadcast_hint_subtrees(df) -> list[str]:
    """Text of every broadcast-hint subtree in the analyzed logical plan
    (indent-scoped: a subtree is the hint line plus all deeper lines)."""
    analyzed = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    lines = analyzed.splitlines()

    def depth(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in ": +-":
            i += 1
        return i

    subtrees = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line:
            continue
        d = depth(line)
        sub = [line]
        for nxt in lines[i + 1 :]:
            if depth(nxt) <= d:
                break
            sub.append(nxt)
        subtrees.append("\n".join(sub))
    return subtrees


#: key columns that identify a scan of a fact-scaling table (customer,
#: supplier, part, orders, lineitem all grow with scale factor; nation
#: and region are fixed at 25/5 rows and MAY be broadcast-hinted)
_FACT_MARKERS = ("c_custkey", "s_suppkey", "p_partkey", "l_orderkey", "o_orderkey")

#: every registered TPC-H query shape (Q1–Q22) — the policy below
#: applies to ALL of them, not a sample
_ALL_TPCH = (
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_top_unshipped",
    "q4_late_shipment_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q7_nation_volume", "q8_market_share",
    "q9_product_profit", "q10_returned_items", "q11_important_parts",
    "q12_delay_priority", "q13_customer_order_distribution",
    "q14_promo_revenue", "q15_top_supplier", "q16_supplier_part_counts",
    "q17_small_quantity_revenue", "q18_large_orders",
    "q19_disjunctive_revenue", "q20_dominant_suppliers",
    "q21_waiting_suppliers", "q22_dormant_customers",
)


def _strip_tree_prefix(line: str) -> str:
    return line.lstrip(": +-")


def _is_size_bounded(subtree: str) -> bool:
    """True iff the broadcast side is bounded regardless of scale
    factor: a GlobalLimit caps the row count, and a GLOBAL Aggregate
    (no grouping keys → exactly one row, printed as ``Aggregate
    [aggExprs]`` with a single bracket list) is the scalar-subquery
    threshold shape. A GROUPED aggregate (``Aggregate [keys],
    [aggExprs]``) or a Deduplicate over a fact key grows with the
    data and is NOT an escape — that was the hole the r9 TPC-H
    queries slipped through.

    The bounding node must be the hint's effective CHILD — the first
    structural node below it, looking through row-preserving wrappers
    (Project/Filter/SubqueryAlias/LocalLimit). A bounded node deeper
    in the tree does NOT cap the side (e.g. a fact scan JOINED with a
    one-row threshold is still fact-sized), so scanning the whole
    subtree for an Aggregate line would reopen the hole one level up."""
    wrappers = ("Project", "Filter", "SubqueryAlias", "LocalLimit")
    for raw in subtree.splitlines()[1:]:  # [0] is the ResolvedHint line
        line = _strip_tree_prefix(raw)
        if line.startswith(wrappers):
            continue
        if line.startswith("GlobalLimit"):
            return True
        return line.startswith("Aggregate [") and "], [" not in line
    return False


def test_no_broadcast_hint_on_fact_scaling_tables(spark, sf_dir):
    """A forced F.broadcast on a table that grows with scale factor
    overrides AQE and OOMs executors at 100× — the hint must only ever
    sit on fixed-size dims (nation/region) or one-row/limited derived
    sides (a global Aggregate or GlobalLimit above the fact scan caps
    the broadcast size). Enumerates ALL 22 TPC-H shapes."""
    for name in _ALL_TPCH:
        df = SPECS[name].fn(spark, sf_dir)
        for sub in _broadcast_hint_subtrees(df):
            if _is_size_bounded(sub):
                continue
            assert not any(m in sub for m in _FACT_MARKERS), (name, sub)


def test_aqe_splits_skewed_join_at_runtime(spark):
    """AQE skew-join handling (enabled in the session builder) must
    actually SPLIT an oversized partition at runtime — the complement
    to the explicit salting operator: Spark absorbs moderate skew
    itself, salting is for the extreme tail. A test-sized skew (90% of
    rows on one key, incompressible payload) crosses locally pinned
    thresholds; the executed adaptive plan must carry the skew marker."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # the downstream global agg makes the split look shuffle-adding
        # to the cost check; force mirrors real deployments where the
        # skewed stage dominates
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.md5(F.col("id").cast("string").cast("binary")).alias("payload"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), F.col("id").alias("r")
        )
        j = left.join(right, "k").agg(
            F.count("*").alias("n"), F.max("payload").alias("m")
        )
        assert j.collect()[0]["n"] == 300_000
        plan = _plan(j)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_fact_join(spark, sf_dir):
    """In the 100 TB regime neither fact side broadcasts; Spark's
    runtime bloom filter then builds a compact filter from the
    selective (date-filtered) side and prunes the big side's shuffle
    input at the scan. Local testdata sits far below the injection
    thresholds, so the test pins them down to prove the mechanism the
    at-scale configuration relies on stays available."""
    from mongo2pq_spark.sources.registry import read_sf_table

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    thresh_key = (
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    prev_thresh = spark.conf.get(thresh_key)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(thresh_key, "0")
    try:
        o = read_sf_table(spark, sf_dir, "orders").filter(
            F.col("o_orderdate") < F.lit("1996-02-01").cast("timestamp")
        )
        l = read_sf_table(spark, sf_dir, "lineitem")
        j = l.join(o, l.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_orderdate"
        )
        assert "bloom_filter_agg" in _plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(thresh_key, prev_thresh)


def test_incremental_dedup_is_hash_anti_join(spark, sf_dir):
    """The new-batch-vs-corpus dedup must be an equi anti-join on the
    content hash — a nested-loop or cartesian fallback would be
    all-pairs over the corpus at scale."""
    plan = _formatted(spark, sf_dir, "dedup_incremental_new_docs")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ts_filter_pushed_through_ntz_normalization(spark, sf_dir):
    """read_sf_table interposes an NTZ→TIMESTAMP cast over the scan; a
    ts predicate must still reach the parquet reader (Catalyst unwraps
    the cast in binary comparisons) so row-group min/max stats prune
    chunks outside the time slice."""
    plan = _formatted(spark, sf_dir, "events_time_slice")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "GreaterThanOrEqual(ts," in pushed, pushed
    assert "LessThan(ts," in pushed, pushed


def test_normalize_ntz_recurses_into_nested_types(spark):
    from pyspark.sql import types as T

    from mongo2pq_spark.sources.registry import normalize_ntz_timestamps

    df = spark.sql(
        """
        SELECT named_struct('t', TIMESTAMP_NTZ '2024-01-05 10:20:30',
                            'k', 1) AS s,
               array(TIMESTAMP_NTZ '2024-01-06 00:00:01') AS a,
               TIMESTAMP_NTZ '2024-01-07 07:08:09' AS ts
        """
    )
    out = normalize_ntz_timestamps(df)
    flat = out.schema
    assert isinstance(flat["ts"].dataType, T.TimestampType)
    assert isinstance(flat["s"].dataType["t"].dataType, T.TimestampType)
    assert isinstance(flat["a"].dataType.elementType, T.TimestampType)
    row = out.collect()[0]
    assert row["s"]["t"].hour == 10 and row["a"][0].second == 1


def test_q1_uses_whole_stage_codegen_and_partial_agg(spark, sf_dir):
    df = SPECS["q1_pricing_summary"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()  # noqa: SLF001
    simple = df._sc._jvm.PythonSQLUtils.explainString(qe, "simple")  # noqa: SLF001
    assert "partial_sum" in simple  # map-side combine before the shuffle
    assert simple.count("HashAggregate") >= 2  # partial + final
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in simple
    codegen = df._sc._jvm.PythonSQLUtils.explainString(qe, "codegen")  # noqa: SLF001
    assert "WholeStageCodegen subtrees" in codegen


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = _formatted(spark, sf_dir, "top_k")
    assert "TakeOrderedAndProject" in plan


def test_minhash_single_aggregation_pass(spark, sf_dir):
    """The k-permutation signature must be ONE aggregation (k min
    columns), not k passes."""
    from mongo2pq_spark.operators.dedup import minhash_signatures
    from mongo2pq_spark.sources.registry import read_sf_table

    sig = minhash_signatures(read_sf_table(spark, sf_dir, "documents"))
    plan = _plan(sig)
    # one partial + one final aggregate over the exploded shingle stream
    # ("Name (id)" counts tree nodes only, not the details section)
    assert plan.count("HashAggregate (") == 2


def test_exact_dedup_has_partial_aggregation(spark, sf_dir):
    plan = _formatted(spark, sf_dir, "dedup_exact")
    assert plan.count("HashAggregate") >= 2


def test_bucketed_join_skips_shuffle(spark, sf_dir):
    """bucketBy co-location: joining two tables bucketed on the same
    key must plan ZERO exchanges (the 100 TB repeated-join strategy)."""
    from mongo2pq_spark.plans.pipeline import write_bucketed_table
    from mongo2pq_spark.sources.registry import read_sf_table

    l = read_sf_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = read_sf_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    write_bucketed_table(l, "bucketed_lineitem", "l_orderkey", n_buckets=8)
    write_bucketed_table(o, "bucketed_orders", "o_orderkey", n_buckets=8)
    # disable broadcast so the planner exercises the bucketed SMJ path
    # (at real scale neither side broadcasts; that's when bucketing pays)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bucketed_lineitem").join(
            spark.table("bucketed_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located buckets: shuffle-free
        assert (
            joined.count() == read_sf_table(spark, sf_dir, "lineitem").count()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partition_pruning_on_hive_output(spark, sf_dir, tmp_path):
    """Reading back the partitioned EL output with a partition-key
    filter must prune directories (PartitionFilters), not scan-all."""
    from mongo2pq_spark.plans.pipeline import extract_load_collection
    from mongo2pq_spark.schema.model import Schema
    from mongo2pq_spark.schema.types import spark_to_arrow
    from mongo2pq_spark.sources.registry import read_sf_table

    df = read_sf_table(spark, sf_dir, "events")
    schema = Schema("events", {f.name: spark_to_arrow(f.dataType) for f in df.schema.fields})
    path = extract_load_collection(df, schema, tmp_path, partition_key="event_type")
    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = _plan(back)
    assert "PartitionFilters: [isnotnull(event_type" in plan
    # only the click partition rows are read
    assert back.count() == df.filter(F.col("event_type") == "click").count()


def test_lsh_plans_have_no_cartesian_products(spark, sf_dir):
    """The similarity scale paths must never fall back to an all-pairs
    join — candidates come from (table, bucket) equi-joins."""
    for name in ("embedding_near_dup", "ann_lsh_topk"):
        plan = _formatted(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_hard_negatives_broadcasts_queries(spark, sf_dir):
    """Hard-negative mining scans the corpus once against BROADCAST
    queries (BroadcastNestedLoopJoin is the intended shape here — the
    query side is tiny and the predicate is a label inequality, not an
    equi-key); the corpus side must never sort-merge or shuffle below
    the ranking window."""
    plan = _formatted(spark, sf_dir, "ann_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ngram_guard_broadcast_anti_in_plan(spark, sf_dir):
    """The registered Jaccard query must carry the hot-shingle guard as
    a BROADCAST anti-join against the hot set (which is bounded at
    ~100 × shingles-per-doc entries regardless of corpus size, so it
    always broadcasts) — never a shuffle of the full hash stream."""
    plan = _formatted(spark, sf_dir, "dedup_ngram_jaccard")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin LeftAnti" in plan.replace("  ", " ") or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan
    )


def test_sampling_pair_plans_have_no_low_cardinality_window(spark, sf_dir):
    """The registered sampling queries must be the scale-safe plans: a
    window over ~5-value event_type means one task per stratum sorting
    billions of rows at 100×. stratified_sample must additionally be a
    pure map-side filter — zero exchanges."""
    plan = _formatted(spark, sf_dir, "stratified_sample")
    assert "Window" not in plan
    assert "Exchange" not in plan
    plan = _formatted(spark, sf_dir, "value_quartile_buckets")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan  # edges join back is broadcast


def test_stratified_sample_honors_per_stratum_rates(spark, sf_dir):
    """Realized rate per stratum tracks the nominal basis-point rate
    within 5 binomial standard deviations (deterministic hash, so this
    never flakes — it either holds or the hash/threshold is wrong)."""
    import math

    from mongo2pq_spark.queries.sampling_quant import _RATE_DENOM, _STRATA_BP

    from mongo2pq_spark.sources.registry import read_sf_table

    totals = {
        r["event_type"]: r["n"]
        for r in read_sf_table(spark, sf_dir, "events")
        .groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    sampled = {
        r["event_type"]: r["n"]
        for r in SPECS["stratified_sample"].fn(spark, sf_dir)
        .groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    for stratum, n in totals.items():
        p = _STRATA_BP[stratum] / _RATE_DENOM
        got = sampled.get(stratum, 0)
        sigma = math.sqrt(n * p * (1 - p))
        assert abs(got - n * p) <= 5 * sigma + 1, (stratum, got, n * p)


def test_quartile_buckets_match_exact_ntile(spark, sf_dir):
    """The approx-edge buckets must track the exact NTILE(4) window
    form (the test-only oracle the registered query replaced): per
    (event_type, quartile), bucket shares agree within 5% of the
    stratum total, and every registered share_ok is true."""
    from pyspark.sql import Window

    from mongo2pq_spark.sources.registry import read_sf_table

    e = read_sf_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    exact = {
        (r["event_type"], r["quartile"]): r["n"]
        for r in e.select(
            "event_type", F.ntile(4).over(w).alias("quartile")
        ).groupBy("event_type", "quartile").agg(F.count("*").alias("n")).collect()
    }
    totals = {}
    for (t, _), n in exact.items():
        totals[t] = totals.get(t, 0) + n
    approx_rows = SPECS["value_quartile_buckets"].fn(spark, sf_dir).collect()
    assert all(r["share_ok"] for r in approx_rows)
    approx_counts = {
        (r["event_type"], r["quartile"]): True for r in approx_rows
    }
    # every exact bucket key appears in the approx result and vice versa
    assert set(approx_counts) == set(exact)


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    """The interval range join must execute as a bucketized equi-join:
    a BETWEEN theta-join plans as BroadcastNestedLoopJoin — quadratic
    work at scale — so its absence IS the operator's scale guarantee."""
    plan = _formatted(spark, sf_dir, "range_join_click_attribution")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rollup_gapfill_spine_is_broadcast(spark, sf_dir):
    """Gap-fill joins grid-sized tables: the spine×groups cross join
    and the spine⋈rollup join must both be broadcast — a shuffle there
    would mean the plan treats the grid as data-sized."""
    plan = _formatted(spark, sf_dir, "events_rollup_gapfill")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan  # explicit broadcast cross join


def test_map_only_llm_ops_have_no_exchange(spark, sf_dir):
    """Chunking, mix upsampling, and stutter collapse are narrow
    per-row transforms; any Exchange in their plans means an
    accidental shuffle of the corpus. The collapse plan must also
    materialize the token split ONCE — an indexed self-reference
    inside its lambda would let Catalyst inline the split per element
    (O(n²) per doc)."""
    for name in ("doc_chunks_fixed", "corpus_mix_upsample",
                 "text_collapse_repeats"):
        plan = _formatted(spark, sf_dir, name)
        assert "Exchange" not in plan, name
    opt = (
        SPECS["text_collapse_repeats"].fn(spark, sf_dir)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert opt.count("split(") == 1, opt


def test_chunk_reassemble_survivor_selection_is_skew_safe(spark, sf_dir):
    """Chunk-level dedup must pick survivors with the partial-agg
    groupBy + join-back shape, NOT a window over the chunk key: a
    boilerplate chunk duplicated millions of times partial-aggregates
    map-side and AQE can split the skewed winners join, but a window
    partition cannot be split — one hot chunk would become one
    straggler task at 100 TB. Exchange budget: chunk-key aggregate +
    winners join + doc rebuild, nothing more."""
    plan = _formatted(spark, sf_dir, "dedup_chunk_reassemble")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    n_exchanges = plan.count("Exchange (")
    assert n_exchanges <= 3, f"expected <=3 exchanges, plan has {n_exchanges}"


def test_train_val_split_is_map_only(spark, sf_dir):
    """The split assignment must be a pure projection: zero exchanges,
    zero windows — a doc's split is a function of its id alone."""
    plan = _formatted(spark, sf_dir, "corpus_train_val_split")
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_rolling_window_partitions_on_user(spark, sf_dir):
    """The trailing-hour window must partition on user_id (cardinality
    grows with data), never on a data-fixed low-cardinality key."""
    plan = _formatted(spark, sf_dir, "events_rolling_1h_user")
    spec_lines = [
        l for l in plan.splitlines() if "windowspecdefinition" in l
    ]
    assert spec_lines, plan
    assert all("user_id" in l for l in spec_lines)
    assert not any("event_type" in l for l in spec_lines)


def test_zipf_rank_is_topk_not_global_sort(spark, sf_dir):
    """The top-1000 selection must plan as TakeOrderedAndProject
    (per-partition top-k + merge), not a full global sort."""
    plan = _formatted(spark, sf_dir, "text_zipf_slope")
    assert "TakeOrderedAndProject" in plan


def test_funnel_and_heavy_hitters_have_no_window(spark, sf_dir):
    """Both are one-aggregation-pass shapes; a window (or per-stage
    self-join) would be the classic funnel anti-pattern."""
    for name in ("events_funnel_conversion", "events_heavy_hitters"):
        plan = _formatted(spark, sf_dir, name)
        assert "Window" not in plan, name
        assert "SortMergeJoin" not in plan, name


def test_unigram_logprob_explodes_corpus_once(spark, sf_dir):
    """The doc×term aggregate feeds three consumers; it must be
    persisted (bounded cache) so the corpus is scanned and exploded
    exactly once — without the cache the physical plan contains three
    Generate(explode) subtrees over the documents scan."""
    from mongo2pq_spark.operators.cache import release_caches

    import re

    release_caches()
    try:
        plan = _formatted(spark, sf_dir, "text_unigram_logprob")
        assert "InMemoryTableScan" in plan
        # formatted explain re-prints the cached relation's child plan
        # at every reference — distinct node ids is the real count
        assert len(set(re.findall(r"Generate \((\d+)\)", plan))) == 1
    finally:
        release_caches()


def test_scd2_history_is_single_shuffle(spark, sf_dir):
    """The SCD2 build chains lag-window → cumulative-sum window →
    (user_id, island) aggregate → lead window, and ALL of them must be
    served by ONE exchange on user_id: hash(user_id) satisfies every
    downstream clustered-distribution requirement (user_id ⊆ each key
    set). A second exchange would re-shuffle the full fact stream at
    100 TB for nothing."""
    plan = _formatted(spark, sf_dir, "scd2_user_state_history")
    # formatted mode renders each node once in the tree as "Exchange (n)"
    n_exchanges = plan.count("Exchange (")
    assert n_exchanges == 1, f"expected 1 exchange, plan has {n_exchanges}"


def test_histogram_rollup_windows_run_on_sketch_not_stream(spark, sf_dir):
    """The quantile extraction's low-cardinality event_type windows
    must sit ABOVE the two histogram aggregates (partial+merge), so
    they only ever see n_types × n_bins sketch rows — the full-data
    pass is the map-side binned count, nothing else."""
    plan = _formatted(spark, sf_dir, "histogram_quantile_rollup")
    # Only the TREE section is ordered root-first parent→child; the
    # details that follow repeat names in arbitrary positions. (A naive
    # "first HashAggregate before first Window" check is vacuous: the
    # root-level extraction aggregate always prints first.)
    tree = plan.split("\n\n")[0]
    assert "Window (" in tree
    below_window = tree[tree.rindex("Window ("):]
    scan_at = below_window.index("Scan parquet")
    # Between the deepest Window and the leaf scan there must be the
    # binned-count aggregates — i.e. the windows consume sketch rows,
    # not the raw event stream (which would plan Window→Sort→Exchange→
    # Scan with zero aggregates in between).
    n_aggs_below = below_window[:scan_at].count("HashAggregate (")
    assert n_aggs_below >= 2, (
        f"windows must sit above the partial+merge histogram "
        f"aggregates; found {n_aggs_below} HashAggregates between the "
        f"deepest Window and the scan"
    )


def test_levenshtein_blocked_plan_is_equi_join_with_broadcast_guard(
    spark, sf_dir
):
    """Edit-distance dedup must never plan an all-pairs shape: the
    candidate generator is a band equi-join, the oversized-band guard
    a broadcast LEFT ANTI, and levenshtein runs only above the join
    (on surviving candidates)."""
    plan = _formatted(spark, sf_dir, "dedup_levenshtein_blocked")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    squashed = plan.replace("  ", " ")
    assert "BroadcastHashJoin LeftAnti" in squashed or (
        "LeftAnti" in plan and "BroadcastExchange" in plan
    )


def test_span_coverage_plan_has_no_pair_joins(spark, sf_dir):
    """Duplicated-span coverage must stay linear in corpus tokens:
    span-hash aggregations and a semi-join — never a doc-pair join
    (all-pairs would be quadratic at corpus scale)."""
    plan = _formatted(spark, sf_dir, "dedup_span_coverage")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan


def test_interval_overlap_plan_is_equi_join(spark, sf_dir):
    """The interval-overlap join must decompose onto the grid and
    equi-join (key, cell) — a BETWEEN theta-join would plan
    BroadcastNestedLoopJoin, quadratic per key at scale."""
    plan = _formatted(spark, sf_dir, "sessions_overlap_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_completion_plans_have_no_quadratic_joins(spark, sf_dir):
    """The 11 TPC-H-completion queries must plan hash/merge joins
    only. The sole nested-loop shape allowed is the ONE-ROW broadcast
    of a scalar-subquery threshold (Q11/Q15/Q22's global aggregate) —
    the same single-row-spine exception as the gapfill plan; a
    CartesianProduct or a nested loop against a multi-row side is
    quadratic at scale and always wrong."""
    tpch_completion = [
        "q2_min_cost_supplier", "q9_product_profit",
        "q11_important_parts", "q12_delay_priority", "q15_top_supplier",
        "q16_supplier_part_counts", "q17_small_quantity_revenue",
        "q19_disjunctive_revenue", "q20_dominant_suppliers",
        "q21_waiting_suppliers", "q22_dormant_customers",
    ]
    scalar_threshold = {
        "q11_important_parts",
        "q15_top_supplier",
        "q22_dormant_customers",
    }
    for name in tpch_completion:
        plan = _formatted(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        if name not in scalar_threshold:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_q21_self_joins_are_equi_on_orderkey(spark, sf_dir):
    """Q21's EXISTS/NOT EXISTS pair must decorrelate into a semi- and
    an anti- self-join keyed on l_orderkey (the supplier inequality
    rides along as a join residual) — never a per-row re-scan."""
    plan = _formatted(spark, sf_dir, "q21_waiting_suppliers")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q17_correlated_avg_is_grouped_join(spark, sf_dir):
    """Q17's per-part avg(l_quantity) subquery must run as ONE grouped
    aggregate joined back on partkey (decorrelated), with partial
    aggregation map-side."""
    plan = _formatted(spark, sf_dir, "q17_small_quantity_revenue")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_avg" in plan or "HashAggregate" in plan


def test_semdedup_plan_is_cluster_equi_join(spark, sf_dir):
    """The SemDeDup prune must never plan an all-pairs shape: the
    candidate scope is an equi-join on (cluster, sub_key); the only
    broadcast is the bounded cluster-size table (≤ n_clusters rows)."""
    plan = _formatted(spark, sf_dir, "semdedup_prune_consistency")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_image_dhash_neardup_plan_is_banded_equi_join(spark, sf_dir):
    """The image near-dedup must inherit the generic Hamming banding's
    scale shape: band equi-join candidates, never an all-pairs join."""
    plan = _formatted(spark, sf_dir, "multimodal_image_dhash_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_audio_fp_neardup_plan_is_banded_equi_join(spark, sf_dir):
    """Audio near-dedup must inherit the generic Hamming banding's
    scale shape: band equi-join candidates, never an all-pairs join."""
    plan = _formatted(spark, sf_dir, "multimodal_audio_fp_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_roundtrip_encode_stage_is_map_only(spark, sf_dir):
    """The BPE ENCODE stage must be shuffle-free: one scan feeding
    mapInPandas and a projection (the histogram shuffle happens in the
    separate bounded learning job at build time, never per-row)."""
    plan = _formatted(spark, sf_dir, "text_bpe_roundtrip_stats")
    assert "Exchange" not in plan


def test_embedding_incremental_plan_is_bucket_equi_join(spark, sf_dir):
    """The embedding increment probe must stay an equi-join on
    (table_id, bucket) — never an all-pairs/cartesian shape."""
    plan = _formatted(spark, sf_dir, "embedding_incremental_near_dups")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_plan_shape(spark, sf_dir):
    """BM25's scale posture: the literal query-term table and the
    per-term df table join as broadcasts (never a shuffle join on the
    tiny side), the corpus-stats join is the one 1-row broadcast
    nested loop, the tf table is cached (one tokenize pass feeds
    lengths, df and scoring), and the top-k windows carry
    WindowGroupLimit pushdown so no partition ranks more than it
    must."""
    plan = _formatted(spark, sf_dir, "text_bm25_topk")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin Cross") == 1
    assert "InMemoryRelation" in plan
    assert "WindowGroupLimit" in plan


def test_cdc_chunks_windows_only_on_doc_key(spark, sf_dir):
    """CDC dedup's only window is the per-doc boundary prefix sum —
    partitioned on the data-scaling doc key, NEVER on the chunk hash
    (a boilerplate chunk shared by millions of docs is the classic
    skewed key); chunk-frequency counting must stay partial-agg
    groupBys and the flag join must never degrade to a nested loop."""
    import re

    plan = _formatted(spark, sf_dir, "dedup_cdc_chunks")
    keys = set(re.findall(r"windowspecdefinition\(([^,#]+)#", plan))
    assert keys == {"doc_id"}, keys
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_phrase_matches_plan_shape(spark, sf_dir):
    """Phrase search is one posexplode pass pruned by the broadcast
    literal phrase-term table before any shuffle — no windows, no
    self-joins, no nested loops; both aggregations are partial-agg
    hash aggregates (the anchor key contains doc_id, so nothing
    skews)."""
    plan = _formatted(spark, sf_dir, "text_phrase_matches")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "windowspecdefinition" not in plan
    assert "HashAggregate" in plan


def test_rrf_fusion_dense_side_never_shuffles_corpus(spark, sf_dir):
    """Hybrid RRF's scale posture: the dense side broadcasts the 3
    example vectors (corpus never sort-merges against them), the
    fusion join runs over two pre-truncated rankings, no cartesian
    products, and the lexical top-k keeps WindowGroupLimit
    pushdown."""
    plan = _formatted(spark, sf_dir, "retrieval_rrf_fusion")
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    # the example-vector and corpus-stats joins are broadcasts; the
    # only nested-loop broadcasts allowed are the bounded 1-row /
    # 3-row sides
    assert "BroadcastHashJoin" in plan


def test_pq_adc_scoring_is_jvm_side_fold(spark, sf_dir):
    """PQ's scoring stage must stay JVM-side: after the one
    Arrow-batched encode pass (ArrowEvalPython/MapInPandas), the ADC
    fold over the broadcast LUT appears as an aggregate expression —
    no per-pair Python, no cartesian product (the LUT join is the
    broadcast nested loop over the bounded query workload), and the
    top-k carries WindowGroupLimit. The PQ result is cached (its
    three consumer branches must not re-run the encode pass), so
    every MapInPandas printed in the plan is a cached-relation
    reprint under an InMemoryTableScan reference — the encode
    executes once at first materialization."""
    plan = _formatted(spark, sf_dir, "ann_pq_recall")
    assert "MapInPandas" in plan
    assert plan.count("MapInPandas") <= plan.count("InMemoryTableScan")
    assert "CartesianProduct" not in plan
    assert "aggregate(" in plan  # the ADC fold expression
    assert "WindowGroupLimit" in plan


def test_dsir_post_agg_stage_is_broadcast_only(spark, sf_dir):
    """DSIR's scale posture: after the ONE doc×bucket aggregate, every
    join is a broadcast (both LM tables are bounded at n_buckets rows
    by construction, the totals are 1-row) — nothing sort-merges, no
    cartesian product beyond the bounded 1-row nested loop, and the
    tokenize/explode subtree materializes exactly once under the
    cache (distinct Generate node ids == 1; the formatted plan
    re-prints the cached relation's child at every reference)."""
    import re

    from mongo2pq_spark.operators.cache import release_caches

    try:
        plan = _formatted(spark, sf_dir, "corpus_dsir_select")
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "InMemoryTableScan" in plan
        assert len(set(re.findall(r"Generate \((\d+)\)", plan))) == 1
    finally:
        release_caches()


def test_dynamic_partition_pruning_on_hive_layout(spark, sf_dir, tmp_path):
    """The hive-partitioned EL layout must light up runtime dynamic
    partition pruning: joining the partitioned fact with a FILTERED
    dimension on the partition key plants a dynamicpruning expression
    in the fact scan's PartitionFilters — at 100 TB this is the
    difference between reading one event_type directory and reading
    the whole lake. (AQE skew handling has its own test above; DPP is
    the partition-layout counterpart.)"""
    from mongo2pq_spark.sources.registry import read_sf_table

    out = str(tmp_path / "ev_part")
    read_sf_table(spark, sf_dir, "events").write.partitionBy(
        "event_type"
    ).parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("click", 1), ("view", 0), ("purchase", 0)],
        "event_type string, flag int",
    ).where("flag = 1")
    j = fact.join(dim, "event_type").groupBy("event_type").count()
    plan = _plan(j)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert "PartitionFilters" in plan
    # and the pruned execution really returns only the selected type
    rows = j.collect()
    assert [r["event_type"] for r in rows] == ["click"]


def test_poisson_bootstrap_is_single_shuffle(spark, sf_dir):
    """The Poisson bootstrap's scale claim: the 32-replicate expand is
    a map-side Generate feeding ONE aggregate exchange (plus AQE
    reads) — no per-replicate resampling shuffle, no cartesian
    product; the order-statistic window runs over the bounded B-row
    replicate table, never the raw events."""
    plan = _formatted(spark, sf_dir, "events_bootstrap_ci")
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the replicate explode, map-side
    import re

    # exchanges: the replicate-means aggregate plus the bounded
    # B-row single-partition window/final agg — never one per replicate
    n_exchanges = len(set(re.findall(r"Exchange \((\d+)\)", plan)))
    assert n_exchanges <= 3, plan[:1500]


def test_substring_removal_plan_is_skew_safe_equi_joins(spark, sf_dir):
    """ExactSubstr removal must never form a doc-pair join and must
    pick duplicated spans via the partial-agg groupBy on the span
    hash, not a window over it (a boilerplate span duplicated
    millions of times would make one straggler window partition at
    100 TB; the groupBy partial-aggregates map-side and AQE can split
    the join that carries winners back). The only window-free rebuild
    is the in-group sort of one document. SHUFFLE-exchange budget
    (broadcasts excluded — at test scale AQE broadcasts the small
    sides that shuffle at 100 TB): span-hash aggregate + covered
    distinct + anti-join repartition + totals + rebuild."""
    import re

    plan = _formatted(spark, sf_dir, "dedup_substring_removal")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n_shuffles = len(re.findall(r"(?<!Broadcast)Exchange \(", plan))
    assert n_shuffles <= 6, f"expected <=6 shuffles, plan has {n_shuffles}"


def test_substring_incremental_never_aggregates_index(spark, sf_dir, tmp_path):
    """The incremental ExactSubstr probe must consume the persisted
    span-hash index through equi-joins ONLY — the r12 formulation
    union()'d the index into a distinct(), re-shuffling the whole
    O(corpus-tokens) index on EVERY increment (VERDICT r12 #3). With
    the index persisted to parquet (the production shape), walk the
    physical-plan tree up from the index scan: the first
    Join/Aggregate/Union ancestor must be a JOIN."""
    from mongo2pq_spark.operators.dedup import (
        duplicated_span_removal_incremental,
        span_hash_index,
    )
    from mongo2pq_spark.sources.registry import read_sf_table

    docs = read_sf_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx_path = str(tmp_path / "spanidx")
    span_hash_index(docs.filter(F.col("doc_id") >= 100)).write.parquet(
        idx_path
    )
    index = spark.read.parquet(idx_path)
    inc = docs.filter(F.col("doc_id") < 100)
    plan = _plan(duplicated_span_removal_incremental(inc, index))

    tree = [
        line
        for line in plan.splitlines()
        if line.strip().startswith(("*", "+-", ":", "(")) or "Scan" in line
    ]

    def depth(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in ": +-":
            i += 1
        return i

    scan_rows = [
        i
        for i, line in enumerate(tree)
        if "Scan parquet" in line and "spanidx" in line
    ]
    # the formatted header tree cites the scan without the path; fall
    # back to matching the node-detail section's path back to its id
    if not scan_rows:
        import re

        ids = re.findall(
            r"\((\d+)\) Scan parquet[\s\S]*?spanidx", plan
        )
        assert ids, f"index scan not found in plan:\n{plan[:2000]}"
        scan_rows = [
            i
            for i, line in enumerate(tree)
            if re.search(rf"Scan parquet.*\({ids[0]}\)", line)
        ]
    assert scan_rows, plan[:2000]
    i = scan_rows[0]
    d = depth(tree[i])
    while i > 0:
        i -= 1
        if depth(tree[i]) >= d:
            continue
        d = depth(tree[i])
        node = tree[i]
        if "Join" in node:
            return  # first structural ancestor is a join — correct
        assert "Aggregate" not in node and "Union" not in node, (
            f"index scan feeds {node.strip()!r} before any join — the "
            f"probe re-aggregates the full index:\n{plan[:2000]}"
        )
    raise AssertionError(f"no join ancestor above index scan:\n{plan[:2000]}")


def test_fix_mojibake_is_map_only(spark, sf_dir):
    """Encoding repair is a narrow projection of built-in JVM
    expressions: zero exchanges, zero windows, no Python workers
    (BatchEvalPython/ArrowEvalPython would mean the repair left
    codegen)."""
    plan = _formatted(spark, sf_dir, "text_fix_mojibake")
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_tar_shards_native_read_plan_is_map_only(spark, sf_dir):
    """The native tar-shard source feeds a pure projection: doc-id
    extraction, byte length and md5 are all map-side — ZERO exchanges
    after the scan (the plan a 10k-shard parallel sequential read
    depends on). The write stage runs as its own eager job and is not
    part of the returned plan."""
    plan = _formatted(spark, sf_dir, "el_tar_shards_native_read")
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_wds_group_samples_plan_single_shuffle(spark, sf_dir):
    """wds sample grouping is one partial-aggregated shuffle on the
    unique sample key — member projection (regex split + payload md5)
    stays map-side, and nothing sorts globally."""
    import re

    plan = _formatted(spark, sf_dir, "multimodal_wds_samples")
    n_shuffles = len(re.findall(r"(?<!Broadcast)Exchange \(", plan))
    assert n_shuffles <= 1, f"expected <=1 shuffle, got {n_shuffles}"
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_binaryfile_path_projection_prunes_content(spark, tmp_path):
    """The streaming tar ingest tails the landing tree with
    readStream.format('binaryFile').select('path'): binaryFile must
    honor column pruning so shard BYTES never become scan rows (the
    O(member) redesign depends on it — the executor parse streams
    the bytes itself). Streaming reuses the same FileFormat, so the
    batch plan is the assertable surface."""
    p = tmp_path / "shard-00000.tar"
    p.write_bytes(b"\x00" * 1024)
    plan = _plan(
        spark.read.format("binaryFile").load(str(tmp_path)).select("path")
    )
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "path" in read_schema
    assert "content" not in read_schema and "binary" not in read_schema


def test_nb_classifier_plan_broadcasts_model_no_python(spark, sf_dir):
    """The NB scoring plan the 100 TB contract depends on: the model
    and priors reach the corpus as BROADCAST joins (BroadcastHashJoin
    for the tf x model probe; the doc x label skeleton is a broadcast
    nested loop of the <=L-row priors — never a CartesianProduct), and
    the whole train+score chain is built-in JVM expressions (no
    Python workers)."""
    for name in ("classifier_nb_lang", "classifier_nb_hashed"):
        plan = _formatted(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_nb_crossval_single_tokenization_no_python(spark, sf_dir):
    """The k-fold eval must not re-scan the corpus per fold: the
    documents parquet appears in the plan a BOUNDED number of times
    (the base/tf/doc-total branches — NOT k x that), every model-side
    join is broadcast, and no Python workers appear."""
    plan = _formatted(spark, sf_dir, "classifier_nb_crossval")
    n_scans = plan.count("documents.parquet")
    assert n_scans <= 6, f"corpus scanned {n_scans} times — fold fan-out?"
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_packed_sequences_plan_shape(spark, sf_dir):
    """The packing/assembly stages of pipeline_packed_sequences are
    built-in JVM expressions: the ONLY Python stages in the whole
    plan are the Arrow-batched BPE encode/decode (mapInPandas), no
    row-at-a-time BatchEvalPython anywhere, no CartesianProduct, and
    window parallelism is per-shard (a partitionBy window, never an
    empty-frame global sort)."""
    plan = _formatted(spark, sf_dir, "pipeline_packed_sequences")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the detok tail is Arrow-batched (the plan a trainer-scale chain
    # needs: payload bytes cross the Python boundary ONCE each way)
    assert "MapInPandas" in plan


def test_classify_route_plan_shape(spark, sf_dir):
    """The routing pipeline's 100 TB contract: scoring reaches the
    corpus through BROADCAST model joins (never a CartesianProduct),
    and the only Python stages in the whole classify -> route ->
    tokenize -> shard -> detokenize plan are the Arrow-batched BPE
    encode/decode mapInPandas stages plus the Python DataSource scan
    — no row-at-a-time BatchEvalPython anywhere."""
    plan = _formatted(spark, sf_dir, "pipeline_classify_route_shards")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_encode_plan_shape(spark):
    """The reuse-or-encode merge's structural contract: the merged
    member table's plan carries exactly ONE Arrow encode stage
    (MapInPandas over the FRESH slice only — the reuse branch is a
    LeftSemi join over the prior member table, never a second
    encode), no row-at-a-time BatchEvalPython, no CartesianProduct."""
    from pyspark.sql import functions as F

    from mongo2pq_spark.operators.bpe import (
        incremental_encode_payloads,
        learn_bpe,
    )

    docs_a = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    merges = learn_bpe(docs_a, n_merges=5)
    prior = spark.createDataFrame(
        [("doc1.tokens", b"\x00\x00\x00\x00"),
         ("doc2.tokens", b"\x01\x00\x00\x00")],
        "name string, payload binary",
    )
    digests = docs_a.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("md5_a")
    )
    gen_b = spark.createDataFrame(
        [(1, "alpha beta"), (3, "new doc")], "doc_id long, text string"
    )
    merged, _ = incremental_encode_payloads(gen_b, digests, prior, merges)
    plan = _plan(merged)
    # formatted plans print each node twice (tree + detail); the
    # tree line is "MapInPandas (<id>)" — exactly one encode stage
    assert plan.count("MapInPandas (") == 1
    assert "LeftSemi" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_r17_codec_queries_are_map_only(spark, sf_dir):
    """The round-17 codec/wire retirements all share the media-decode
    scale shape: build fixtures → decode → scalarize inside Arrow
    batches, with ZERO exchanges end to end (cost ∝ payload bytes,
    parallelism = the input sharding). A shuffle creeping into any of
    these would silently turn a 100 TB map over shards into a
    cluster-wide repartition."""
    for name in (
        "web_warc_gzip_bodies",
        "web_warc_gz_members",
        "multimodal_pdf_xref_stream",
        "multimodal_pdf_extract_text",
        "multimodal_jpeg_progressive_roundtrip",
        "multimodal_jpeg12_roundtrip",
        "multimodal_gif_pixel_roundtrip",
        "multimodal_tiff_pixel_roundtrip",
        "multimodal_zip_encrypted_manifest",
        # r18: CCITT fax, JPEG-in-TIFF, 12-bit color JPEG, and PDF
        # embedded-image extraction join the same map-only shape
        "multimodal_tiff_ccitt_roundtrip",
        "multimodal_tiff_jpeg_roundtrip",
        "multimodal_jpeg12_color_roundtrip",
        "multimodal_pdf_embedded_images",
    ):
        plan = _formatted(spark, sf_dir, name)
        assert "Exchange" not in plan, name
        assert "Window" not in plan, name
        # the decode itself is Arrow-batched mapInPandas, never
        # row-at-a-time Python
        assert "BatchEvalPython" not in plan, name


def _shuffles(df) -> int:
    """Shuffle exchanges in the executed plan (broadcasts excluded)."""
    import re

    return len(re.findall(r"(?<!Broadcast)Exchange \(", _plan(df)))


def _docs(spark):
    return spark.createDataFrame(
        [(1, "a b c d", "en"), (2, "a b c d", "de"), (3, "x y z", "en"),
         (4, None, "fr")],
        "doc_id long, text string, lang string",
    )


def test_minhash_signature_plan_has_no_lambda(spark):
    """Shingles come from one regex scan, so the signature stream is
    generated code: no interpreted higher-order-function lambda."""
    from mongo2pq_spark.operators.dedup import minhash_signatures

    analyzed = minhash_signatures(_docs(spark))._jdf.queryExecution().analyzed()
    assert "lambdafunction" not in analyzed.toString().lower()


def test_exact_dedup_plans_one_shuffle(spark):
    """One aggregate per text digest: one hash exchange, combined
    map-side (a partial aggregate below it), no join."""
    from mongo2pq_spark.operators.dedup import drop_exact_duplicates

    kept = drop_exact_duplicates(_docs(spark))
    plan = _plan(kept)
    assert _shuffles(kept) == 1
    assert "partial_min_by" in plan
    assert "Join" not in plan


def test_inverted_index_plans_one_shuffle(spark, tmp_path, monkeypatch):
    """Both posting aggregates and the sorted write reuse one range
    exchange on (term, shard)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from mongo2pq_spark.operators.text import write_inverted_index

    written = []
    monkeypatch.setattr(
        DataFrameWriter, "parquet", lambda self, path, *a, **k: written.append(self._df)
    )
    for positions in (False, True):
        write_inverted_index(_docs(spark), str(tmp_path / "idx"), positions=positions)
    assert len(written) == 2
    for df in written:
        plan = _plan(df)
        assert _shuffles(df) == 1
        assert "rangepartitioning(term" in plan and ", shard" in plan


def test_minhash_plans_cost_few_py4j_calls(spark, monkeypatch):
    """Building (not running) ``minhash_signatures`` plus
    ``minhash_band_table`` stays under 100 py4j round trips: SQL text
    for the shingles, the k aggregates and the band rows, where Column
    trees cost thousands (a call per node, plus call-site capture)."""
    from py4j.clientserver import ClientServerConnection

    from mongo2pq_spark.operators.dedup import minhash_band_table, minhash_signatures

    docs = _docs(spark)
    calls = []
    send = ClientServerConnection.send_command

    def counted(self, command):
        calls.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    minhash_band_table(minhash_signatures(docs))
    monkeypatch.undo()
    assert 0 < len(calls) < 100, len(calls)
