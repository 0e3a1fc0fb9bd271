"""Plan-shape assertions (SURVEY.md §4 / the '.explain and iterate'
discipline): pushdown, broadcast choice, partial aggregation, and
codegen must actually appear in the physical plans — a correct result
with the wrong plan is a 100 TB failure waiting."""

from __future__ import annotations

import pytest

from recipes_spark.registry import all_queries

QUERIES = all_queries()


def _plan(spark, sf_dir, name) -> str:
    return (
        QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    """Every q6 predicate is scan-eligible: PushedFilters must list the
    shipdate/discount/quantity bounds."""
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_q5_broadcasts_fixed_dims(spark, sf_dir):
    """region/nation are fixed-size at any SF — the star join must use
    broadcast hash joins, never shuffle those dims."""
    plan = _plan(spark, sf_dir, "q5_region_nation_revenue")
    assert "BroadcastHashJoin" in plan


def test_q1_partial_aggregation(spark, sf_dir):
    """Hash agg must run partial (map-side) + final — two HashAggregate
    nodes per aggregation."""
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_q1_column_pruning(spark, sf_dir):
    """The q1 scan must read only the needed lineitem columns — a scan
    with l_orderkey/l_partkey in ReadSchema is reading the whole table
    for a 7-column aggregation."""
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    read = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_quantity" in read
    for col in ("l_orderkey", "l_partkey", "l_suppkey"):
        assert col not in read, f"unpruned column {col}: {read}"


def test_q1_whole_stage_codegen(spark, sf_dir):
    """Codegen stages appear only in the AQE-final plan — execute
    first, then inspect."""
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    df.collect()  # finalize THIS df's adaptive plan (a noop write
    # would execute a separate queryExecution)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "*(" in plan  # WholeStageCodegen stage markers


@pytest.mark.parametrize(
    "name", ["stac_catalog_search", "q3_top_revenue_orders"]
)
def test_limit_not_global_sort(spark, sf_dir, name):
    """Top-k queries must plan TakeOrderedAndProject (k-row heap per
    partition), not a full global Sort + Limit."""
    plan = _plan(spark, sf_dir, name)
    assert "TakeOrderedAndProject" in plan


def test_partition_pruning_on_partitioned_store(spark, sf_dir):
    """The catalog-store layout (partitionBy date/collection) must prune
    at plan time: an equality filter on the partition column appears in
    PartitionFilters and the scan reads one partition, not all."""
    import pyspark.sql.functions as F

    from recipes_spark.io import load
    from recipes_spark.session import scratch_dir

    path = scratch_dir("prune") + "/events_by_day"
    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(path)
    some_day = spark.read.parquet(path).select("day").first()[0]

    pruned = spark.read.parquet(path).filter(F.col("day") == F.lit(some_day))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "day" in pf, f"day filter not in PartitionFilters: {pf}"
    n_days = spark.read.parquet(path).select("day").distinct().count()
    assert pruned.select("day").distinct().count() == 1 < n_days


def test_packing_plan_has_no_single_task_stage(spark, sf_dir):
    """The packing cumsum must run shard-parallel: the window partitions
    by shard (never an empty partitionBy → SinglePartition exchange),
    and shard offsets arrive via broadcast."""
    df = QUERIES["x6_packing_plan"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan  # shard-offset join
    # The checkpointed shard-local stage ran the partitioned window;
    # nothing in the final plan re-sorts globally.
    assert "Sort [doc_id" not in plan.replace("ASC NULLS FIRST", ""), plan


def test_packing_bpe_has_no_single_task_stage(spark, sf_dir):
    """x6_packing_bpe: the BPE token count must not change the packing
    plan's scale shape — shard-partitioned cumsum window, broadcast
    shard offsets, no single-partition exchange."""
    df = QUERIES["x6_packing_bpe"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan  # shard-offset join


def test_funnel_windows_share_one_exchange(spark, sf_dir):
    """The 3 chained funnel windows partition identically (user_id), so
    exactly ONE hashpartitioning(user_id) exchange must feed them —
    re-shuffling per stage is the plan bug this guards against."""
    import re

    plan = _plan(spark, sf_dir, "funnel_conversion")
    assert len(re.findall(r"\bWindow\b", plan)) == 3
    user_exchanges = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    assert len(user_exchanges) == 1, plan


def test_vocab_topk_is_heap_not_global_sort(spark, sf_dir):
    """vocab_top_bigrams must plan TakeOrderedAndProject (per-partition
    k-heap over partial counts), never Sort+Limit over the vocabulary."""
    plan = _plan(spark, sf_dir, "vocab_top_bigrams")
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_percentile_filter_broadcasts_cutoffs(spark, sf_dir):
    """The per-lang cutoff table is 5 rows — the filter join must
    broadcast it, never shuffle the corpus against it."""
    plan = _plan(spark, sf_dir, "x4_length_percentile_filter")
    assert "BroadcastHashJoin" in plan


def test_unigram_entropy_is_shuffle_free(spark, sf_dir):
    """Entropy is computed row-locally via higher-order functions — the
    plan must contain NO Exchange at all (no explode + re-agg on
    doc_id), just a narrow projection over the scan."""
    plan = _plan(spark, sf_dir, "x4_unigram_entropy")
    assert "Exchange" not in plan, plan


def test_scd2_windows_share_one_exchange(spark, sf_dir):
    """Change-detect (lag) and interval-close (lead) both partition by
    user_id — one hashpartitioning(user_id) exchange must feed both."""
    import re

    plan = _plan(spark, sf_dir, "scd2_intervals")
    user_exchanges = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    assert len(user_exchanges) == 1, plan


def test_catalog_dim_join_uses_dynamic_partition_pruning(spark, tmp_path):
    """A dim-filtered join against the collection_id-partitioned item
    store must prune partitions at RUNTIME (DPP): the selective filter
    lives on the collections dim, not the fact, so static pruning can't
    see it — without dynamicpruningexpression in the scan's partition
    filters, a 100 TB store scans every collection to serve a
    one-collection query."""
    import pyspark.sql.functions as F

    items = spark.range(0, 400).select(
        F.col("id").alias("item_id"),
        F.concat(F.lit("c"), F.pmod("id", F.lit(8)).cast("string")).alias(
            "collection_id"
        ),
        (F.col("id") * 1.0).alias("v"),
    )
    path = str(tmp_path / "items")
    items.write.partitionBy("collection_id").parquet(path)
    store = spark.read.parquet(path)
    dims = spark.createDataFrame(
        [(f"c{i}", "CC" if i == 3 else "prop") for i in range(8)],
        "collection_id string, license string",
    )
    joined = store.join(dims.filter(F.col("license") == "CC"), "collection_id")
    rows = joined.collect()
    assert len(rows) == 50
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_manifest_key_has_no_single_task_window(spark, sf_dir):
    """The S4 list-position key is arithmetic (epoch offset − blacklist
    prefix count), not row_number over an empty partitionBy — the plan
    must contain no SinglePartition exchange."""
    df = QUERIES["s4_manifest"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan


def test_rfm_scores_have_no_single_task_window(spark, sf_dir):
    """The three RFM quintile scores come from sharded global
    row-numbers (operators/prefix.partitioned_row_number), never from
    ntile over an empty partitionBy — the executed plan must contain
    no SinglePartition exchange, and the shard offsets must arrive via
    broadcast join."""
    df = QUERIES["event_rfm_segments"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_fact_fact_join_injects_runtime_bloom_filter(spark, sf_dir):
    """100 TB fact-fact joins (SCALE.md): when neither side broadcasts,
    Spark's runtime Bloom-filter injection must prune the probe side's
    shuffle input with might_contain(bloom_filter_agg(build keys)) —
    row-level runtime filtering, the shuffle-volume complement to
    bucketing and DPP. Asserted under fact-fact thresholds (broadcast
    off); results must equal the unfiltered join."""
    import pyspark.sql.functions as F

    from recipes_spark.io import load

    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    j = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expected = j.collect()

    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        ),
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
        ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        j2 = (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j2._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
        assert sorted(map(tuple, j2.collect())) == sorted(map(tuple, expected))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_vocab_encode_heap_topk_and_broadcast_apply(spark, sf_dir):
    """x4_vocab_encode's two scale properties: vocabulary selection is
    a k-row heap (TakeOrderedAndProject), never a global sort of the
    term frequencies, and the encode join broadcasts the vocab (zero
    corpus shuffle for the lookup)."""
    plan = _plan(spark, sf_dir, "x4_vocab_encode")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_containment_no_cartesian_and_partial_agg(spark, sf_dir):
    """x2_containment's candidate generation must stay an equi-join on
    (gram, blocks) — a CartesianProduct/BroadcastNestedLoopJoin means
    the rare-gram blocking degenerated to all-pairs — and the gram
    document-frequency count must map-side combine."""
    plan = _plan(spark, sf_dir, "x2_containment")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan


def test_best_survivor_broadcasts_cluster_table(spark, sf_dir):
    """x2_best_survivor joins the per-cluster survivor table back onto
    the labels — clusters ≪ docs, so that join must broadcast."""
    plan = _plan(spark, sf_dir, "x2_best_survivor")
    assert "BroadcastHashJoin" in plan


def test_lang_confusion_is_projection_plus_tiny_agg(spark, sf_dir):
    """x4_lang_confusion must stay a row-local scoring projection + one
    hash agg: no join, no window — the scoring never shuffles the
    corpus."""
    plan = _plan(spark, sf_dir, "x4_lang_confusion")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange") <= 2  # partial->final agg exchange only


def test_kmeans_assign_is_zero_shuffle_map_work(spark, sf_dir):
    """x3_kmeans_assign inlines the collected centroids as literals, so
    the assignment plan must be a pure projection over the embeddings
    scan — no join, no aggregation exchange (the only Exchange allowed
    is the final orderBy's range partitioning)."""
    plan = _plan(spark, sf_dir, "x3_kmeans_assign")
    assert "Join" not in plan
    assert "hashpartitioning" not in plan
    assert "HashAggregate" not in plan


def test_unigram_nll_preaggregates_before_lm_join(spark, sf_dir):
    """x4_unigram_nll must collapse the token stream to per-doc
    (term, k) counts BEFORE the LM join — the join input aggregate is
    what kills the stopword skew. Assert an aggregate sits below the
    term join (two agg pairs: dt build + final per-doc) and the grand
    total arrives via broadcast."""
    plan = _plan(spark, sf_dir, "x4_unigram_nll")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final for dt and final agg


def test_filtered_topk_pushes_predicate_and_broadcasts(spark, sf_dir):
    """x3_filtered_topk is the PRE-filter ANN shape: the metadata
    predicate must reach the documents scan (PushedFilters), and the
    filtered id set must broadcast into the vector join — the plan that
    prunes vector compute instead of post-dropping results."""
    plan = _plan(spark, sf_dir, "x3_filtered_topk")
    assert "BroadcastHashJoin" in plan
    # The documents FileScan line is width-truncated before its
    # PushedFilters section prints, so assert on DataFilters (the same
    # pushed predicates, printed earlier in the node).
    doc_scan = next(
        line
        for line in plan.splitlines()
        if "FileScan" in line and "documents.parquet" in line
    )
    assert "(lang" in doc_scan and "(n_chars" in doc_scan, doc_scan


def test_bpe_merge_is_two_aggs_and_heap_topk(spark, sf_dir):
    """x4_bpe_merge_step's scale claim: ONE corpus-sized shuffle (the
    word-count agg) + one vocab-sized shuffle (pair counts), top-20 via
    a k-row heap — never a global sort."""
    plan = _plan(spark, sf_dir, "x4_bpe_merge_step")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan.count(
        "Exchange hashpartitioning"
    )
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_cms_estimation_broadcasts_counters(spark, sf_dir):
    """x4_cms_heavy_hitters: the counter table (≤ depth·width rows)
    must BROADCAST into the estimation join — heavy-hitter queries
    never shuffle the corpus against the sketch — and the top-30 is a
    heap, not a sort."""
    plan = _plan(spark, sf_dir, "x4_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_temperature_sample_broadcasts_thresholds(spark, sf_dir):
    """x6_temperature_sample: per-source thresholds (a handful of rows)
    broadcast onto the corpus scan; the keep test itself is row-local,
    so the only corpus shuffle is the final source rollup."""
    plan = _plan(spark, sf_dir, "x6_temperature_sample")
    assert "BroadcastHashJoin" in plan


def test_salted_join_stays_on_shuffle_hash_path(spark, sf_dir):
    """join_salted: the whole point is the broadcast-INELIGIBLE
    shuffled-hash regime (SCALE.md skew_join probe) — the salted join
    itself must compile to a ShuffledHashJoin on (key, salt), not get
    silently broadcast (which would make the salt dead weight and the
    demonstration vacuous)."""
    plan = _plan(spark, sf_dir, "join_salted")
    assert "ShuffledHashJoin" in plan, plan
    assert "__salt" in plan


def test_triangle_count_reuses_edge_exchange(spark, sf_dir):
    """x7_triangle_count: the distinct edge set feeds three join legs —
    the exchange must be computed once and reused (ReusedExchange /
    ReusedShuffle markers), not rebuilt per leg; and the DAG
    orientation means no CartesianProduct anywhere. Reuse only shows in
    the AQE-FINAL plan, so execute before inspecting."""
    df = QUERIES["x7_triangle_count"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan
    assert "CartesianProduct" not in plan


def test_headline_plan_fingerprints_locked(spark):
    """Plan-REGRESSION lock: wall time on a shared host swings 2×
    (SCALE.md), so timing diffs are weak signal — but a physical-plan
    change (broadcast→shuffle, un-pushed filter, extra exchange) is
    deterministic and is what predicts 100 TB behavior. Every headline
    query's normalized plan hash must match
    tools/plan_fingerprints.json; a deliberate plan change regenerates
    it (`python tools/plan_fingerprints.py`) in the same commit, which
    is the moment to ask whether the new plan is the one you want.
    Cross-session hash stability is implied: the lockfile was written
    by a DIFFERENT session than the one running this test."""
    import json
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from plan_fingerprints import LOCKFILE, current_fingerprints

    # Earlier tests cache() tables; a matching cached fragment rewrites
    # a scan into InMemoryTableScan and changes the plan hash — that is
    # session state, not a plan regression. Compare against the
    # cache-free plans the lockfile (a fresh session) recorded.
    spark.catalog.clearCache()
    with open(LOCKFILE) as fh:
        locked = json.load(fh)
    cur = current_fingerprints(spark)
    changed = sorted(
        set(k for k in cur if locked.get(k) != cur[k]) | (set(locked) - set(cur))
    )
    assert not changed, (
        "headline physical plans changed: " + ", ".join(changed)
        + " — if deliberate, regenerate with `python tools/plan_fingerprints.py`"
        " in the same commit (and ask whether the new plan is the one you want)"
    )


def test_banding_pre_checkpoint_stage_is_locked(spark, sf_dir):
    """Round-12 blind spot, closed: `_band_rows` ends in a
    localCheckpoint, so the banding stage (shingle → base hash →
    splitmix64 kernel) never appears in x2_minhash_lsh's fingerprinted
    executed plan — the xxhash64→sha2 swap moved NO fingerprint. The
    lockfile must now carry the captured PRE-checkpoint banding plan,
    and exactly that historical change class (the base-hash family
    swap) must flip the captured fingerprint."""
    import json
    import os
    import sys

    import pyspark.sql.functions as F

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from plan_fingerprints import LOCKFILE, capture_pre_checkpoint, plan_hash

    from recipes_spark.io import load
    from recipes_spark.operators.dedup import band_hashes

    with open(LOCKFILE) as fh:
        locked = json.load(fh)
    assert "x2_minhash_lsh#pre_ckpt0" in locked, sorted(locked)

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("s")
    )
    hashes = {}
    for portable in (True, False):
        with capture_pre_checkpoint() as caps:
            band_hashes(
                docs, id_col="doc_id", set_col="s",
                num_hashes=8, bands=2, portable=portable,
            )
        assert len(caps) == 1, "banding checkpoints exactly once"
        hashes[portable] = plan_hash(caps[0])
    assert hashes[True] != hashes[False], (
        "the base-hash family swap must change the pre-checkpoint "
        "banding fingerprint — the lock is still blind"
    )


def test_twap_no_per_type_raw_event_window(spark, sf_dir):
    """window_twap (round-9 reshape): event_type has a handful of
    values, so NO window over raw events may partition on event_type
    alone — the lead runs within (event_type, __shard) slices of a
    range shuffle, and the only event_type-alone window is the seam
    stitch over the types×shards boundary summary (ordered by
    __shard). A per-type `lead` over (us, eid) reappearing here is the
    single-task-funnel regression the reshape removed."""
    import re

    plan = _plan(spark, sf_dir, "window_twap")
    assert re.search(r"rangepartitioning\(event_type#\d+", plan), plan
    for spec in re.findall(r"windowspecdefinition\(event_type#\d+,([^)]*)\)", plan):
        assert "__shard" in spec, (
            "window partitioned on event_type alone over raw events:\n" + plan
        )


def test_spearman_no_raw_event_rank_window(spark, sf_dir):
    """agg_spearman (round-9 reshape): the y-rank comes from the
    per-(type, cents) count table (grid-sized cumulative window) and
    the x-rank from the sharded partitioned_row_number — no rank()
    window over raw events may appear, and every window partitioned on
    event_type alone must order by cents (the distinct-value grid) or
    __shard (the offset scan), never by the raw (us, eid) stream."""
    import re

    plan = _plan(spark, sf_dir, "agg_spearman")
    assert "rank(" not in plan.replace("dense_rank(", ""), plan
    for spec in re.findall(
        r"windowspecdefinition\(event_type#\d+, ([a-z_]+)#\d+", plan
    ):
        assert spec in ("cents", "__shard"), (spec, plan)


def test_corpus_pipeline_e2e_shuffle_diet(spark, sf_dir):
    """x6_corpus_pipeline_e2e's composition claims: the serve phase
    (post-checkpoint) adds exactly ONE shard exchange — the pack
    window's, which the final manifest aggregate must REUSE — the
    mixture threshold arrives by broadcast, the expensive clean chain
    does not re-enter the consumer plan (the checkpoint boundary), and
    nothing falls into a single-partition or cartesian stage."""
    df = QUERIES["x6_corpus_pipeline_e2e"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE prints the final plan followed by the pre-adaptive initial
    # plan — assert over the final section only.
    plan = plan.split("Initial Plan")[0]
    import re

    shard_ex = re.findall(r"Exchange hashpartitioning\(shard", plan)
    assert len(shard_ex) == 1, plan
    assert "BroadcastHashJoin" in plan  # mixture threshold join
    # Clean-chain operators live behind the checkpoint: their line-key
    # exchange must not appear in (= re-execute inside) this plan.
    assert "hashpartitioning(line" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bpe_apply_is_zero_shuffle(spark, sf_dir):
    """x4_bpe_apply's 100 TB claim: the merge fold, symbol split, id
    lookup and checksum are all row-local Catalyst expressions — no
    semantic shuffle (hash/range/single-partition), no join, no Python
    island; the only allowed exchange is scale_partitions' round-robin
    fan-out of the single-row-group test file."""
    plan = _plan(spark, sf_dir, "x4_bpe_apply")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan


@pytest.mark.parametrize(
    "name", ["x4_zipf_fit", "x4_vocab_coverage_curve"]
)
def test_vocab_rank_windows_run_after_takeordered(spark, sf_dir, name):
    """x4_zipf_fit / x4_vocab_coverage_curve (round-10 reshape): both
    read a fixed top-k of the vocabulary, so selection must be
    TakeOrderedAndProject (k-row heap per partition) and EVERY window
    must sit ABOVE the limit — a Window whose subtree lacks the
    TakeOrdered is the full-vocabulary single-task rank funnel the
    reshape removed (at web scale the distinct-term table is ~10⁹ rows
    of typo/URL singletons, 99.99% of which the old plan sorted in one
    task and then discarded)."""
    plan = _plan(spark, sf_dir, name)
    assert "TakeOrderedAndProject" in plan, plan
    # ADVICE r10: the old partition() check was vacuous when no Window
    # existed and only guarded the FIRST Window — both queries DO rank
    # over the bounded slice, so require a Window, and require the
    # TakeOrdered below the LAST one (plans print top-down, so "after
    # the last Window occurrence" = every window sits above the limit).
    assert "Window" in plan, plan
    head, sep, below = plan.rpartition("Window")
    assert "TakeOrderedAndProject" in below, (
        "a window runs below the top-k limit — full-vocab rank funnel:\n"
        + plan
    )


def test_dsir_single_tokenize(spark, sf_dir):
    """x4_dsir_weights (round-11 reshape): the corpus is tokenized
    exactly once into the materialized (doc, is_t, term, n) view, so
    the CONSUMER plan — the one that runs per selection — must contain
    no Generate/explode (no re-tokenize) and no parquet scan at all
    (both the LM build and the scoring join read the checkpointed
    view)."""
    plan = _plan(spark, sf_dir, "x4_dsir_weights")
    assert "Generate" not in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_ohlc_single_aggregate_no_window(spark, sf_dir):
    """window_ohlc's whole point: OHLC is a MERGEABLE aggregate — the
    plan must contain no Window node at all (open/close are
    min_by/max_by partials) and exactly one exchange, keyed on the
    (event_type, bucket) composite so the hot type key fans out."""
    import re

    plan = _plan(spark, sf_dir, "window_ohlc")
    assert "Window" not in plan, plan
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(keys) == 1, keys
    assert "event_type" in keys[0] and "bucket" in keys[0], keys
