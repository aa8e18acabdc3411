"""Physical-plan regression tests: the scale properties README claims
(pushdown, pruning, broadcast, top-k, map-only text pass) asserted against
`.explain` output so a refactor can't silently regress them."""

import io
from contextlib import redirect_stdout

import pytest

from cryptocurrency_data_pipeline_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


import pytest


@pytest.fixture(autouse=True)
def _fresh_cache(spark):
    # Hermetic pins: an EARLIER test's live persist() whose logical plan
    # shares a subtree with this test's query (e.g. ts_paa's sketch
    # frame vs sax_motif_groups' identical chain) would be substituted
    # into the plan by the CacheManager and shift exchange counts —
    # clear the session cache before each pin, so a query sees only its
    # OWN persists.
    spark.catalog.clearCache()
    yield


def plan(df, mode="formatted"):
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_pricing_summary_pushdown_and_pruning(spark):
    p = plan(QUERIES["pricing_summary"](spark, SF))
    assert "PushedFilters: [" in p and "IsNotNull" in p or "LessThanOrEqual" in p
    # The scan must not read all 16 lineitem columns for the 7-column agg.
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_comment" not in read and "l_partkey" not in read


def test_top_orders_is_take_ordered_not_global_sort(spark):
    p = plan(QUERIES["top_orders_by_value"](spark, SF))
    assert "TakeOrderedAndProject" in p


def test_star_query_broadcasts_dims_and_preaggregates(spark):
    p = plan(QUERIES["star_revenue_by_nation"](spark, SF))
    assert "BroadcastHashJoin" in p
    # Partial aggregation (map-side combine) must appear before the final:
    assert p.count("HashAggregate") >= 2


def _only_spread_exchange(p: str) -> bool:
    """True iff EVERY exchange in the plan is the small-input spread's
    ROUND-ROBIN repartition (skew.spread_small_scan — identity at
    scale, where the scan already has >= defaultParallelism partitions).
    Checked PER EXCHANGE NODE (r15, ADVICE): the old whole-plan
    substring test let a broadcast or single-partition exchange slip
    through as long as one round-robin was present somewhere.  The
    formatted-explain detail blocks carry each node's Arguments, so
    every block whose operator is an Exchange (BroadcastExchange
    included) must name RoundRobinPartitioning."""
    import re

    for block in re.split(r"\n\(\d+\) ", p):
        op = block.lower()
        if op.startswith("exchange") or op.startswith("broadcastexchange"):
            if "roundrobinpartitioning" not in op:
                return False
    return True


def test_text_stats_is_map_only(spark):
    # Pure per-row pass: no KEYED shuffle at any scale.  The one allowed
    # exchange is the round-robin small-input spread, which disappears
    # exactly when data is big enough for the shuffle to matter.
    p = plan(QUERIES["text_stats_docs"](spark, SF))
    assert _only_spread_exchange(p)


def test_winnow_is_map_only(spark):
    p = plan(QUERIES["winnow_fingerprints"](spark, SF))
    assert _only_spread_exchange(p)


def test_asof_join_single_shuffle(spark):
    # union-sort-ffill: ONE Exchange (the per-key window), no join shuffle.
    from cryptocurrency_data_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 10, 1.0)], "user_id long, ts long, value double")
    right = spark.createDataFrame([(1, 5, 2.0)], "user_id long, ts long, value double")
    p = plan(asof_join(left, right, "user_id"), mode="simple")
    assert p.count("Exchange hashpartitioning") == 1


def test_flagship_prunes_and_pushes_group_limit(spark):
    p = plan(QUERIES["flagship_daily_rollup"](spark, SF))
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "event_type" not in read  # unused column never leaves the scan
    # keep-latest dedup runs as a PARTIAL WindowGroupLimit before the
    # shuffle (map-side top-1-per-group), not a full post-shuffle window.
    assert "WindowGroupLimit" in p and "Partial" in p


def test_top_per_customer_partial_window_group_limit(spark):
    # rank<=3 per key must push a PARTIAL WindowGroupLimit below the
    # shuffle: map tasks forward at most 3 rows per customer.
    p = plan(QUERIES["top_orders_per_customer"](spark, SF))
    assert "WindowGroupLimit" in p and "Partial" in p
    assert "BroadcastHashJoin" in p


def test_pivot_single_pass_no_values_scan(spark):
    # Explicit pivot values: exactly one scan of events (no distinct job to
    # discover columns) and one shuffle for the groupBy.
    p = plan(QUERIES["event_type_daily_pivot"](spark, SF), mode="simple")
    assert p.count("Scan parquet") == 1
    assert p.count("Exchange hashpartitioning") == 1


def test_local_supplier_volume_broadcasts_all_dims(spark):
    # 4 dim joins broadcast; only the fact-to-fact orderkey join shuffles.
    p = plan(QUERIES["local_supplier_volume"](spark, SF))
    assert p.count("BroadcastHashJoin") >= 3
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("1995-01-01" in ln or "GreaterThanOrEqual" in ln for ln in pushed)


def test_stats_agg_is_single_pass_pruned(spark):
    p = plan(QUERIES["lineitem_price_qty_stats"](spark, SF), mode="simple")
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    # 4-column agg must not drag the rest of the 11-column table through.
    assert "l_orderkey" not in read and "l_shipdate" not in read
    assert p.count("HashAggregate") == 2  # partial + final, one pass
    assert "partial_corr" in p  # moments combine map-side


def test_monthly_growth_windows_post_agg_frame(spark):
    # The lag window must run AFTER the monthly pre-agg: plan order is
    # scan -> partial/final agg -> single-partition window, so the global
    # sort touches O(months) rows. ReadSchema stays 2 columns.
    p = plan(QUERIES["monthly_revenue_growth"](spark, SF), mode="simple")
    agg_pos = p.rindex("HashAggregate")
    win_pos = p.index("Window")
    assert win_pos < agg_pos  # tree prints top-down: Window above the aggs
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln or "Scan" in ln][0]
    assert "o_custkey" not in read


def test_grouping_sets_single_expand(spark):
    p = plan(QUERIES["grouping_sets_revenue"](spark, SF), mode="simple")
    assert p.count("Expand") == 1  # one pass, not three unioned groupBys


def test_distinct_agg_single_scan_two_level(spark):
    # Single distinct agg plans as a (day,type,user) pre-agg feeding the
    # final (day,type) agg — one scan, exactly two exchanges, with the
    # plain count() carried through as merge_count (no second pass).
    p = plan(QUERIES["daily_event_type_users"](spark, SF), mode="simple")
    assert p.count("Scan parquet") == 1
    assert p.count("Exchange") == 2
    assert "merge_count" in p


def test_ivf_centroid_seeding_is_take_ordered(spark):
    # Seed selection must be a distributed partial top-k
    # (TakeOrderedAndProject), never a Window over the whole unpartitioned
    # corpus: at 100 TB a single-partition global-sort window funnels every
    # vector through one task. The only Window allowed is the centroid_id
    # numbering that runs AFTER the nlist-row limit.
    from cryptocurrency_data_pipeline_spark.operators.similarity import ivf_centroids
    from cryptocurrency_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    p = plan(ivf_centroids(emb, nlist=16), mode="simple")
    assert "TakeOrderedAndProject" in p
    # The Window (if printed) must sit above the top-k, i.e. consume its
    # 16-row output, not the raw scan.
    if "Window" in p:
        assert p.index("Window") < p.index("TakeOrderedAndProject")


def test_profile_with_unique_key_is_single_scan(spark):
    # The full analyzer set INCLUDING key uniqueness must read the table
    # exactly once: groupBy(key) carries decomposable partials, the final
    # agg runs over the O(distinct-keys) grouped frame. Two scans here
    # doubles the cost of every DQ gate at 100 TB.
    from cryptocurrency_data_pipeline_spark.operators.quality import profile_plan
    from cryptocurrency_data_pipeline_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    p = plan(
        profile_plan(
            li,
            completeness_cols=["l_quantity"],
            numeric_cols=["l_quantity", "l_extendedprice"],
            unique_key="l_orderkey",
            approx_distinct_col="l_suppkey",
        ),
        mode="simple",
    )
    assert p.count("Scan parquet") == 1


def test_quantile_sketch_partial_sketch_and_broadcast_verify(spark):
    # The GK summary must partial-aggregate map-side (fixed-size sketch
    # state per group ships through the shuffle, never raw values), the
    # scan must read only the two columns the agg touches, and the
    # rank-bound verification pass must attach the 5-row sketch result by
    # BROADCAST (no second shuffle of orders for the join).
    p = plan(QUERIES["approx_price_quantile_sketch"](spark, SF))
    assert "partial_percentile_approx" in p
    for read in [ln for ln in p.splitlines() if "ReadSchema" in ln]:
        assert "o_totalprice" in read and "o_comment" not in read
    simple = plan(QUERIES["approx_price_quantile_sketch"](spark, SF), mode="simple")
    assert "BroadcastHashJoin" in simple
    # Exchanges: the sketch agg + the verify agg (both map-side partial).
    assert simple.count("Exchange hashpartitioning") <= 2


def test_corpus_prep_single_data_shuffle_with_partial_group_limit(spark):
    # Quality score + fingerprint are scan-stage projections; the dedup
    # window must prune to rank-1 per fingerprint BEFORE its exchange
    # (partial WindowGroupLimit), so the only data shuffle carries one
    # row per (partition, fingerprint). The second exchange is the
    # 3-row split rollup.
    p = plan(QUERIES["corpus_prep_report"](spark, SF), mode="simple")
    assert "WindowGroupLimit" in p
    partial_limit = [
        ln for ln in p.splitlines() if "WindowGroupLimit" in ln and "Partial" in ln
    ]
    assert partial_limit
    assert p.count("Exchange") == 2


def test_shard_layout_is_map_only_until_rollup(spark):
    # split + shard are pure projections over the scan; the only shuffle
    # is the O(splits x shards) accounting rollup.
    p = plan(QUERIES["training_shard_layout"](spark, SF), mode="simple")
    assert p.count("Exchange") == 1


def test_bm25_single_doc_shuffle_with_partials_and_topk(spark):
    p = plan(QUERIES["bm25_top_docs"](spark, SF))
    # Top-25 must be distributed partial top-k, never a global sort.
    assert "TakeOrderedAndProject" in p
    # Per-doc tf+dl agg combines map-side below the doc_id exchange.
    assert p.count("HashAggregate") >= 2
    # Corpus stats enter as an in-plan broadcast, not a collected constant.
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    # The only wide exchanges: doc_id agg + the 1-row stats agg.  No
    # token-keyed shuffle (no df-table join on token).
    assert "SortMergeJoin" not in p


def test_exact_substring_spans_shape(spark):
    # The md5-per-position gram subtree must be computed ONCE: duplicate
    # detection is a window count over the gram hash, not an aggregate
    # self-join — so exactly one scan, no Join, and exactly two wide
    # exchanges (gram-hash window + doc-keyed island window).
    p = plan(QUERIES["exact_substring_spans"](spark, SF), mode="simple")
    assert "Join" not in p
    assert p.count("FileScan") == 1
    assert p.count("Exchange hashpartitioning") == 2
    # The scan prunes to the two live columns.
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "struct<doc_id:bigint,text:string>" in read


def test_gopher_flags_map_only(spark):
    # The whole rule battery must be a single map-side pass: no Exchange,
    # one pruned scan.
    p = plan(QUERIES["gopher_quality_flags"](spark, SF), mode="simple")
    assert "Exchange" not in p
    assert p.count("FileScan") == 1


def test_winsorized_stats_broadcasts_bounds(spark):
    # The p01/p99 bounds frame (5 rows) must broadcast back onto the
    # events scan — no shuffle of the fact side for the join.  Bounds
    # come from order statistics (row_number + count windows over the
    # group key, ONE group-keyed exchange) since the sfbig ulp fix —
    # builtin percentile pairs interpolate differently in the last ulp,
    # flipping strict clamp comparisons under boundary ties.
    p = plan(QUERIES["winsorized_event_stats"](spark, SF), mode="simple")
    assert "BroadcastHashJoin" in p
    assert "row_number" in p and "count(1) windowspec" in p
    # the order-statistics subtree pays exactly one group-key exchange
    assert p.count("Exchange hashpartitioning(event_type") <= 2


def test_scd2_single_key_shuffle(spark):
    # The whole version-chain rebuild must ride ONE key exchange: the
    # update pre-agg partitions on (custkey, eff) but the windows reuse
    # the custkey-compatible exchange; no extra shuffle per window.
    p = plan(QUERIES["scd2_customer_priority_history"](spark, SF), mode="simple")
    assert p.count("Exchange hashpartitioning") <= 2


def test_dataset_diff_is_single_join(spark):
    p = plan(QUERIES["dataset_version_diff"](spark, SF), mode="simple")
    assert p.count("SortMergeJoin") + p.count("BroadcastHashJoin") == 1


def test_stratified_exact_k_is_partial_group_limit(spark):
    # k-per-stratum must push a partial WindowGroupLimit below the
    # shuffle: map tasks forward at most k rows per stratum.
    p = plan(QUERIES["stratified_exact_k_sample"](spark, SF))
    assert "WindowGroupLimit" in p and "Partial" in p


def test_skew_report_is_take_ordered_with_partials(spark):
    p = plan(QUERIES["join_key_skew_report"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p


def test_corpus_ingest_replay_two_shuffles(spark):
    # gate is map-only; the only exchanges are the content-fingerprint
    # dedup window and the final (split, source) rollup.
    p = plan(QUERIES["corpus_ingest_replay"](spark, SF), mode="simple")
    assert p.count("Exchange hashpartitioning") <= 2


def test_scd2_incremental_guard_join_broadcasts(spark):
    # The stale-update guard joins the batch against dim-sized current
    # rows — it must broadcast, not add a wide sort-merge shuffle, and
    # nothing in the two-stage merge may degenerate to a nested loop.
    p = plan(QUERIES["scd2_incremental_merge"](spark, SF), mode="simple")
    assert "BroadcastHashJoin" in p
    assert "NestedLoop" not in p and "Cartesian" not in p


def test_grouped_ewma_single_exchange(spark):
    # GROUPED_MAP = one hash exchange on the key feeding one
    # FlatMapGroupsInPandas — any second shuffle is a regression.
    p = plan(QUERIES["grouped_ewma_user_value"](spark, SF), mode="simple")
    assert "FlatMapGroupsInPandas" in p
    assert p.count("Exchange hashpartitioning") == 1


def test_png_rollup_single_shuffle_two_pandas_stages(spark):
    # producer + decoder are both Arrow-batched map stages; the only
    # exchange is the final width rollup.
    p = plan(QUERIES["png_decode_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_lsh_band_tuning_equi_join_reuses_shingle_cache(spark):
    # Candidate generation must stay a band-key equi-join (never
    # all-pairs): the only nested-loop allowed is the final 1-row
    # n_truth broadcast attach (the standard stats-attach pattern).
    # Both the signature pass and the truth verification must read the
    # cached shingle frame instead of rescanning the corpus.
    p = plan(QUERIES["lsh_band_tuning"](spark, SF), mode="simple")
    assert "Cartesian" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1
    assert p.count("InMemoryTableScan") >= 2


def test_classifier_broadcasts_model_single_doc_shuffle(spark):
    # The weight table must reach executors as a broadcast (never a
    # shuffle join against the exploded token stream); the only hash
    # exchange is the per-doc aggregation.
    p = plan(QUERIES["quality_classifier_scores"](spark, SF), mode="simple")
    assert "BroadcastHashJoin" in p
    assert p.count("Exchange hashpartitioning") == 1


def test_boilerplate_segments_two_keyed_shuffles(spark):
    # One groupBy on the segment hash (document frequency), the
    # hash-keyed join back, one groupBy per doc, one per source, plus
    # (round 11) the doc_id-keyed min(source) attribute lookup that
    # keeps a duplicated doc_id from fanning the rollup back out: the
    # segment TEXT never shuffles, only its md5.
    p = plan(QUERIES["boilerplate_segment_stats"](spark, SF), mode="simple")
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p
    assert p.count("Exchange hashpartitioning") <= 5


def test_histogram_bounds_broadcast_single_agg_shuffle(spark):
    # The 1-row min/max attaches via broadcast nested loop (the stats-
    # attach pattern); bucketing itself is one hash agg.
    p = plan(QUERIES["events_value_histogram"](spark, SF), mode="simple")
    assert p.count("BroadcastNestedLoopJoin") == 1
    assert p.count("Exchange hashpartitioning") == 1


def test_bpe_apply_stats_map_only_until_rollup(spark):
    # Tokenization is pure JVM string expressions: no pandas/python
    # stages anywhere, single exchange for the source rollup.
    p = plan(QUERIES["bpe_apply_token_stats"](spark, SF), mode="simple")
    assert "Python" not in p and "InPandas" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_gif_rollup_single_shuffle_two_pandas_stages(spark):
    # Mirrors the PNG pin: producer + decoder are Arrow-batched map
    # stages; the only exchange is the final width rollup.
    p = plan(QUERIES["gif_decode_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_wav_features_single_shuffle_two_pandas_stages(spark):
    p = plan(QUERIES["wav_features_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_pq_adc_codebook_and_lut_broadcast(spark):
    # Encode is the map-only Arrow kernel (r15 — no codebook join at
    # all); the LUT (scoring) join must still be a broadcast hash join,
    # and there is no cartesian anywhere.
    p = plan(QUERIES["pq_adc_topk"](spark, SF), mode="simple")
    assert "ArrowEvalPython" in p  # kernel-encoded codes
    assert p.count("BroadcastHashJoin") >= 1  # the ADC LUT join
    assert "CartesianProduct" not in p


def test_gif_anim_rollup_single_shuffle_two_pandas_stages(spark):
    p = plan(QUERIES["gif_anim_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_jpeg_decode_rollup_single_shuffle_two_pandas_stages(spark):
    p = plan(QUERIES["jpeg_decode_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_hashed_vector_topk_no_python_vectorization(spark):
    # The vectorizer is JVM-only; the only pandas anywhere would be a
    # regression.  Probes broadcast; no cartesian beyond the
    # broadcast-nested-loop probe attach.
    p = plan(QUERIES["hashed_vector_topk"](spark, SF), mode="simple")
    assert "InPandas" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_ts_paa_topk_jvm_only_broadcast_probes(spark):
    # PAA sketching is pure JVM array expressions (transform/aggregate/
    # slice) — no Python stage; probe sketches attach via broadcast
    # nested loop, never a shuffle join or full cartesian.
    p = plan(QUERIES["ts_paa_similarity_topk"](spark, SF), mode="simple")
    assert "InPandas" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_sax_motif_groups_jvm_only_two_shuffles(spark):
    # Series build (one groupBy on user_id) + SAX-word rollup (one
    # groupBy on the word): exactly two hash exchanges, zero Python.
    p = plan(QUERIES["sax_motif_groups"](spark, SF), mode="simple")
    assert "InPandas" not in p and "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 2


def test_unimax_single_rollup_shuffle_jvm_only(spark):
    # The only data-sized exchange is the per-language token rollup;
    # the water-filling windows run on the O(#langs) aggregate (single-
    # partition exchanges are fine there, hash exchanges are not).
    p = plan(QUERIES["unimax_language_budgets"](spark, SF), mode="simple")
    assert "InPandas" not in p and "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_audio_band_rollup_single_shuffle_two_pandas_stages(spark):
    # Producer + band correlator are Arrow-batched map stages; the only
    # exchange is the per-length energy rollup (mirrors the WAV pin).
    p = plan(QUERIES["audio_band_energy_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_avi_rollup_single_shuffle_two_pandas_stages(spark):
    p = plan(QUERIES["avi_decode_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_l_diversity_two_level_distinct_no_expand(spark):
    # Distinct diversity via the two-level rollup: two hash exchanges
    # (QI+value, then QI), no Expand node (count_distinct would add
    # one), no Python.
    p = plan(QUERIES["l_diversity_audit"](spark, SF), mode="simple")
    assert "Expand" not in p
    assert p.count("Exchange hashpartitioning") == 2
    assert "InPandas" not in p and "BatchEvalPython" not in p


def test_jaccard_prefix_join_no_cartesian(spark):
    # The candidate stage must be an equi-join on prefix elements —
    # never a cartesian/BNLJ pair scan; verification joins are hash
    # joins keyed on candidate ids.
    p = plan(QUERIES["jaccard_shingle_pairs"](spark, SF), mode="simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "InPandas" not in p and "BatchEvalPython" not in p


def test_triangle_census_equi_joins_only(spark):
    # Wedge enumeration and closure must be hash equi-joins; the only
    # BNLJ allowed is the 1-row stats attach at the end.
    p = plan(QUERIES["doc_graph_triangles"](spark, SF), mode="simple")
    assert "CartesianProduct" not in p
    assert "InPandas" not in p and "BatchEvalPython" not in p


def test_t_closeness_broadcasts_value_dist(spark):
    # Global value distribution + grand total attach via broadcast; the
    # only heavy exchanges are the (QI, value) pre-rollup and the class
    # join — and never a (class x value) cross product.
    p = plan(QUERIES["t_closeness_audit"](spark, SF), mode="simple")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "InPandas" not in p and "BatchEvalPython" not in p


def test_user_trend_single_window_two_shuffles(spark):
    # One user-keyed exchange feeds both the rank window and the sum
    # rollup (same key -> Spark reuses the partitioning); the trend
    # rollup is the only other exchange.  No Python anywhere.
    p = plan(QUERIES["user_value_trend"](spark, SF), mode="simple")
    assert "InPandas" not in p and "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") <= 2


def test_benford_single_digit_shuffle(spark):
    # One map-side-combined exchange on the 9 digit keys; the total
    # attaches via the single-partition window on the 9-row aggregate.
    p = plan(QUERIES["benford_value_audit"](spark, SF), mode="simple")
    assert "InPandas" not in p and "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_mp4_rollup_single_shuffle_two_pandas_stages(spark):
    p = plan(QUERIES["mp4_decode_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_tiff_rollup_single_shuffle_two_pandas_stages(spark):
    p = plan(QUERIES["tiff_decode_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_mp3_rollup_single_shuffle_two_pandas_stages(spark):
    p = plan(QUERIES["mp3_decode_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_warc_rollup_single_shuffle_two_pandas_stages(spark):
    p = plan(QUERIES["warc_record_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    # countDistinct adds an Expand-free two-level agg on the tiny
    # per-type frame; allow its exchange plus the type rollup.
    assert p.count("Exchange hashpartitioning") <= 2


def test_zip_rollup_single_shuffle_two_pandas_stages(spark):
    p = plan(QUERIES["zip_manifest_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_warc_http_rollup_single_shuffle_two_pandas_stages(spark):
    p = plan(QUERIES["warc_http_extract_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") <= 2


def test_web_corpus_ingest_composed_plan(spark):
    # Producer + extractor are the two pandas stages; dedup window and
    # split rollup are the only exchanges beyond them.
    p = plan(QUERIES["web_corpus_ingest_report"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") <= 2


def test_flac_rollup_single_shuffle_two_pandas_stages(spark):
    p = plan(QUERIES["flac_streaminfo_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_warc_gz_rollup_single_shuffle_two_pandas_stages(spark):
    p = plan(QUERIES["warc_gz_record_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_tar_rollup_single_shuffle_two_pandas_stages(spark):
    p = plan(QUERIES["tar_manifest_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_cohort_retention_two_shuffles(spark):
    # distinct (user, week) + the first-week rollup share the user key;
    # the matrix rollup is the only other exchange.
    p = plan(QUERIES["cohort_retention_matrix"](spark, SF), mode="simple")
    assert "InPandas" not in p and "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") <= 3


def test_basket_lift_broadcasts_dims_topk(spark):
    # Part lookup + singles + total attach by broadcast; top-20 by lift
    # compiles to TakeOrderedAndProject; the basket self-join is the
    # only heavy exchange pair.
    p = plan(QUERIES["basket_brand_lift"](spark, SF), mode="simple")
    assert "TakeOrderedAndProject" in p
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p


def test_rfm_no_data_sized_single_partition_window(spark):
    # ntile semantics WITHOUT an ntile window: each quartile rank comes
    # from ids.with_consecutive_ids (balanced range exchange + offsets
    # broadcast) and the closed-form tile projection.  Every Window in
    # the plan must run over the O(#partitions) __pid stats frame — the
    # customer rollup itself never flows through a single partition.
    p = plan(QUERIES["rfm_customer_segments"](spark, SF), mode="simple")
    assert "InPandas" not in p and "BatchEvalPython" not in p
    assert "ntile" not in p and "row_number" not in p
    assert p.count("Exchange rangepartitioning") >= 3
    for line in p.splitlines():
        if "Window [" in line:
            assert "__pid" in line or "__n" in line, f"data-sized window: {line}"


def test_ogg_rollup_single_shuffle_two_pandas_stages(spark):
    p = plan(QUERIES["ogg_decode_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_sessionization_single_user_exchange(spark):
    # lag, cumulative sum, and the per-session rollup all ride ONE
    # user-keyed exchange (same partitioning reused); only the final
    # 1-row agg follows.
    p = plan(QUERIES["user_sessionization_stats"](spark, SF), mode="simple")
    assert "InPandas" not in p and "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_media_triage_single_shuffle_two_pandas_stages(spark):
    p = plan(QUERIES["media_triage_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 2
    assert p.count("Exchange hashpartitioning") == 1


def test_cusum_single_user_exchange_topk(spark):
    # All four windows (rank, running sum, per-user count/total, argmax)
    # ride ONE user-keyed exchange; the top-10 is TakeOrdered.
    p = plan(QUERIES["user_value_changepoint"](spark, SF), mode="simple")
    assert "InPandas" not in p and "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "TakeOrderedAndProject" in p


def test_attribution_user_join_then_conv_windows(spark):
    # One user-keyed equi-join (range predicate as filter), windows on
    # the conversion key, channel rollup; no cartesian, no Python.
    p = plan(QUERIES["purchase_attribution_report"](spark, SF), mode="simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "InPandas" not in p and "BatchEvalPython" not in p


def test_ab_chi_square_two_shuffles_one_row_out(spark):
    # User rollup + the single global cell aggregation; no Python.
    p = plan(QUERIES["ab_test_chi_square"](spark, SF), mode="simple")
    assert "InPandas" not in p and "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_ico_rollup_single_shuffle_one_pandas_stage(spark):
    # Producer+parse fused into one exploding pandas stage here; the
    # only exchange is the per-size rollup (countDistinct two-level).
    p = plan(QUERIES["ico_directory_rollup"](spark, SF), mode="simple")
    assert p.count("MapInPandas") == 1
    assert p.count("Exchange hashpartitioning") <= 2


def test_lexical_richness_single_token_shuffle(spark):
    # The (source, token) rollup is the only data-sized exchange; the
    # per-source report aggregates the vocab-sized frame.
    p = plan(QUERIES["lexical_richness_report"](spark, SF), mode="simple")
    assert "InPandas" not in p and "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 2


def test_seasonal_outliers_broadcast_baseline(spark):
    # The 24-row hour baseline attaches by broadcast; one scan-side
    # rollup exchange, no Python.
    p = plan(QUERIES["hourly_seasonal_outliers"](spark, SF), mode="simple")
    assert "BroadcastHashJoin" in p
    assert "InPandas" not in p and "BatchEvalPython" not in p


def test_gap_histogram_single_user_exchange(spark):
    p = plan(QUERIES["event_gap_histogram"](spark, SF), mode="simple")
    assert "InPandas" not in p and "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") <= 2


def test_gini_no_data_sized_single_partition_window(spark):
    # The exact-rank-identity Gini rides the distributed partition-offset
    # rank (range exchange + offsets broadcast); no global row_number,
    # and every Window runs over the __pid stats frame.
    p = plan(QUERIES["value_concentration_gini"](spark, SF), mode="simple")
    assert "InPandas" not in p and "BatchEvalPython" not in p
    assert "row_number" not in p
    assert "Exchange rangepartitioning" in p
    for line in p.splitlines():
        if "Window [" in line:
            assert "__pid" in line or "__n" in line, f"data-sized window: {line}"


def test_exact_quantiles_no_per_type_data_window(spark):
    # ~5 event types would put ~N/5 raw rows through each per-type
    # window task; the grouped partition-offset rank replaces it with a
    # balanced range exchange on (type, value, id) — every Window in the
    # plan runs over the (pid, type) stats frame, never the data.
    p = plan(QUERIES["exact_rank_quantiles_by_type"](spark, SF), mode="simple")
    assert "InPandas" not in p and "BatchEvalPython" not in p
    assert "row_number" not in p
    assert "Exchange rangepartitioning" in p
    for line in p.splitlines():
        if "Window [" in line:
            assert "__pid" in line or "__n" in line, f"data-sized window: {line}"


def test_volume_shipping_broadcasts_filtered_dims(spark):
    # Both dimension paths are filtered to the nation block BEFORE the
    # fact join, so the broadcasts prune lineitem/orders early; the only
    # data-sized exchange pair is the orderkey fact-to-fact join.
    p = plan(QUERIES["volume_shipping_nation_pairs"](spark, SF), mode="simple")
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p and "InPandas" not in p


def test_returned_items_pushdown_and_take_ordered(spark):
    # l_returnflag reaches the lineitem scan, the date filter reaches the
    # orders scan, and the top-20 compiles to TakeOrderedAndProject.
    p = plan(QUERIES["returned_item_top_customers"](spark, SF))
    assert "TakeOrderedAndProject" in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("l_returnflag" in ln and "EqualTo" in ln for ln in pushed)
    assert any("o_orderdate" in ln or "GreaterThanOrEqual" in ln for ln in pushed)


def test_doc_nearest_ngram_is_inverted_index_equi_join(spark):
    """The r13 rewrite's load-bearing shape: candidate generation must be
    an EQUI-join on the exploded shingle key (the inverted index —
    sparse-join bound, one shuffle, AQE-skew-splittable), never the old
    all-pairs block theta join (CartesianProduct / nested-loop at x10
    data measured 907 s)."""
    p = plan(QUERIES["doc_nearest_ngram"](spark, SF), mode="simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the shingle equi-key must be a join key in some hash-keyed join
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or (
        "BroadcastHashJoin" in p
    )
    assert "b_sh" in p  # the inverted-index posting key is the join key
    assert "InPandas" not in p and "BatchEvalPython" not in p


def test_etl_cycle_job_ceilings(spark, tmp_path):
    """Spark jobs are a budget: a steady-state ETL cycle (second
    run over a same-day bronze landing, so every gold dim already exists)
    launches at most 5 transform, 6 quality and 8 aggregate jobs.  A
    re-added probe action, schema-inference read or tmp round trip
    fails here."""
    import json

    from cryptocurrency_data_pipeline_spark.plans import etl
    from cryptocurrency_data_pipeline_spark.sources import ingestion

    def record(i, **over):
        rec = {"id": f"coin-{i}", "symbol": f"c{i}", "name": f"Coin {i}",
               "current_price": 10.0 + i, "market_cap": 10**9 + i}
        return {**rec, **over}

    paths = etl.EtlPaths(*(
        str(tmp_path / n)
        for n in ("bronze", "silver", "dlq", "metrics", "fact", "dim_coins", "dim_date")
    ))
    sc = spark.sparkContext
    for cycle in range(2):
        landed = ingestion.write_bronze(
            [record(i) for i in range(20)] + [record(99, id=None)],
            paths.bronze,
            run_id=f"r{cycle}",
        )
        with open(landed, "a") as f:
            f.write(json.dumps(record(98))[:30] + "\n")  # a corrupt line
        pipeline = etl.build_etl_pipeline(spark, paths)

        def grouped(name, fn, cycle=cycle):
            def stage(carry):
                sc.setJobGroup(f"etl-ceiling-{cycle}-{name}", name)
                try:
                    return fn(carry)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

            return stage

        pipeline.stages = [(n, grouped(n, fn)) for n, fn in pipeline.stages]
        results = pipeline.run()
        assert [r.status.value for r in results] == ["SUCCEEDED"] * 3
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = {
            n: len(sc.statusTracker().getJobIdsForGroup(f"etl-ceiling-{cycle}-{n}"))
            for n, _ in pipeline.stages
        }
    assert jobs["transform"] <= 5, jobs
    assert jobs["quality"] <= 6, jobs
    assert jobs["aggregate"] <= 8, jobs
