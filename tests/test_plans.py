"""Physical-plan invariants (SURVEY.md §4) — plan regressions ARE perf
regressions at 100 TB, so the pushdown/broadcast/codegen properties the
engine relies on are pinned as tests."""

from __future__ import annotations

import re
import sys

import pytest
from pyspark.sql import functions as F

from odc_product_docker_images_spark.plans import checks as C

SF = "/root/testdata/sf0.001"


def test_scan_pushdown_reaches_parquet(spark):
    from odc_product_docker_images_spark.operators.scans import scan_pushdown

    df = scan_pushdown(spark, SF)
    C.assert_filter_pushed(df, "l_shipdate")
    C.assert_filter_pushed(df, "l_quantity")
    C.assert_columns_pruned(df, {"l_orderkey", "l_quantity", "l_shipdate"})


def test_band_math_prunes_to_used_bands(spark):
    from odc_product_docker_images_spark.operators.projections import proj_band_math

    df = proj_band_math(spark, SF)
    C.assert_columns_pruned(
        df,
        {"l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax", "l_quantity"},
    )


def test_dim_join_broadcasts(spark):
    from odc_product_docker_images_spark.operators.joins import join_broadcast

    C.assert_broadcast_join(join_broadcast(spark, SF))


def test_range_join_broadcasts_interval_side(spark):
    from odc_product_docker_images_spark.operators.joins import join_range

    plan = C.formatted_plan(join_range(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_wofs_tree_is_pure_codegen(spark):
    from odc_product_docker_images_spark.kernels.wofs import udf_wofs_tree

    df = udf_wofs_tree(spark, SF)
    C.assert_no_python_row_path(df)
    assert C.codegen_stage_count(df) >= 1
    assert C.exchange_count(df) == 0  # classification is shuffle-free


def test_single_shuffle_aggregation(spark):
    from odc_product_docker_images_spark.operators.aggregates import agg_mean

    # partial + final hash agg around exactly one exchange
    assert C.exchange_count(agg_mean(spark, SF)) == 1


def test_payload_column_pruned_on_metadata_rollup(spark):
    """Binary payload columns must not be read by metadata-only queries —
    the multimodal design's core pruning claim, checked on a real parquet
    file with a binary column."""
    from odc_product_docker_images_spark.io import load
    from odc_product_docker_images_spark.scratch import fresh

    scratch = str(fresh("media"))
    media = load(spark, SF, "documents").select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.col("source").alias("origin"),
        F.col("n_chars").alias("content_length"),
    )
    media.write.mode("overwrite").parquet(scratch)
    rollup = (
        spark.read.parquet(scratch)
        .groupBy("origin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("content_length").alias("bytes"))
    )
    got = C.read_schema_columns(rollup)
    assert "payload" not in got, f"metadata rollup reads payload bytes: {got}"
    assert rollup.count() > 0


def test_approx_distinct_within_error(spark):
    from odc_product_docker_images_spark.operators.aggregates import (
        agg_approx_distinct,
        agg_count_distinct,
    )

    exact = {
        r["l_returnflag"]: r["n_parts"]
        for r in agg_count_distinct(spark, SF).collect()
    }
    approx = {
        r["l_returnflag"]: r["approx_parts"]
        for r in agg_approx_distinct(spark, SF).collect()
    }
    for k, v in exact.items():
        assert abs(approx[k] - v) / v < 0.1


def test_tile_source_partition_parallelism(spark):
    from odc_product_docker_images_spark.sources.tile_source import tile_pixels

    px = tile_pixels(spark, tiles=3, tile_size=8)
    assert px.rdd.getNumPartitions() == 9  # one task per tile
    assert px.count() == 9 * 64


@pytest.mark.parametrize("key", ["source_tile_scan", "source_tile_scan_tiff"])
def test_tile_scan_is_one_arrow_pass_without_python_datasource(spark, key):
    """Both tile scans read their pixels in ONE MapInArrow pass over
    ``spark.range``: no Python DataSource scan, whose planning starts
    three extra Python daemons per session."""
    from odc_product_docker_images_spark.operators import scans

    plan = C.formatted_plan(getattr(scans, key)(spark, SF))
    physical = plan.split("\n\n")[0]  # the operator tree, one line per node
    assert physical.count("MapInArrow") == 1
    assert "BatchScan" not in plan and "(Python)" not in plan


def test_regrid_prunes_and_partial_aggregates(spark):
    from odc_product_docker_images_spark.operators.scans import regrid_bin

    df = regrid_bin(spark, SF)
    C.assert_columns_pruned(df, {"event_id", "user_id", "value"})
    # one shuffle (the cell groupBy), partial agg on the map side
    assert C.exchange_count(df) == 1
    plan = C.formatted_plan(df)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_crs_transform_is_map_side_arithmetic(spark):
    """The affine reprojection must change the KEY ARITHMETIC, not the
    plan: same single-scan / single-shuffle / partial-agg shape as
    regrid_bin, with the transform fused into the scan's codegen stage
    (no extra projection pass, no UDF)."""
    from odc_product_docker_images_spark.operators.scans import proj_crs_transform

    df = proj_crs_transform(spark, SF)
    C.assert_columns_pruned(df, {"event_id", "user_id", "value"})
    assert C.exchange_count(df) == 1
    plan = C.formatted_plan(df)
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert C.scan_count(df) == 1


def test_tfidf_broadcasts_corpus_count(spark):
    from odc_product_docker_images_spark.textvec.text_analysis import text_tfidf

    plan = C.formatted_plan(text_tfidf(spark, SF))
    assert "Broadcast" in plan  # 1-row corpus count never shuffles the tf table
    C.assert_no_python_row_path(text_tfidf(spark, SF))


def test_sim_topk_is_cogrouped_not_driver_built(spark):
    from odc_product_docker_images_spark.textvec.similarity import sim_topk_cosine

    plan = C.formatted_plan(sim_topk_cosine(spark, SF))
    assert "FlatMapCoGroupsInArrow" in plan  # the block matmul runs on executors
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_sim_ann_lsh_stages_are_arrow(spark):
    """The signature pass and the per-bucket verify are Arrow stages:
    numpy views over the Arrow buffers, no pandas frame on either side."""
    from odc_product_docker_images_spark.textvec.similarity import sim_ann_lsh

    plan = C.formatted_plan(sim_ann_lsh(spark, SF))
    assert "MapInArrow" in plan and "FlatMapGroupsInArrow" in plan
    assert "InPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_dedup_minhash_is_one_arrow_signature_pass(spark):
    """The 64 minima and 16 band signatures come from ONE MapInArrow pass
    over per-document shingle-hash sets: no K-way posexplode of the
    shingle rows, and the signature rows have a single consumer."""
    from odc_product_docker_images_spark.textvec.dedup import dedup_minhash

    plan = C.formatted_plan(dedup_minhash(spark, SF))
    physical = plan.split("\n\n")[0]  # the operator tree, one line per node
    assert physical.count("MapInArrow") == 1
    assert "posexplode" not in plan
    assert "InPandas" not in plan


def test_filter_pipeline_single_scan(spark):
    from odc_product_docker_images_spark.textvec.pipeline import filter_pipeline

    assert C.scan_count(filter_pipeline(spark, SF)) == 1  # one pass over the corpus


def test_contamination_broadcasts_eval_side(spark):
    """The eval slice is a few percent of the corpus by construction — it
    must ride a broadcast, never shuffle the train-side shingles."""
    from odc_product_docker_images_spark.textvec.curation import text_contamination

    df = text_contamination(spark, SF)
    C.assert_broadcast_join(df)
    C.assert_no_python_row_path(df)


def test_shard_pack_has_no_global_data_window(spark):
    """The corpus-sized window must be partitioned (by pid); only the
    ≤32-row offset table may use an unpartitioned window."""
    from odc_product_docker_images_spark.textvec.curation import shard_pack

    plan = C.formatted_plan(shard_pack(spark, SF))
    # the data-path window sorts by (pid, doc_id) — i.e. partitioned
    assert re.search(r"Window.*pid", plan, re.DOTALL)
    C.assert_no_python_row_path(shard_pack(spark, SF))


def test_repetition_filter_is_cheap_and_parallel(spark):
    """The row filter must be the token-count predicate, NOT a predicate
    over the shingle-builder expression: a builder-expression filter gets
    pushed below the Repartition and runs the builder serially on the
    single-partition scan (measured 3.7s vs 0.7s at sf0.1)."""
    from odc_product_docker_images_spark.textvec.curation import text_repetition

    plan = text_repetition(spark, SF)._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.split("\n"):
        if "Filter" in line:
            assert "concat_ws" not in line, "shingle builder inside the filter"


def test_dedup_clusters_persists_edge_list(spark):
    """Propagation rounds must read the cached edge list, not re-derive
    the shingle self-join lineage every round."""
    from odc_product_docker_images_spark.textvec.curation import dedup_clusters

    df = dedup_clusters(spark, SF)
    try:
        assert "InMemoryTableScan" in C.formatted_plan(df)
    finally:
        spark.catalog.clearCache()


def test_bucketed_join_needs_no_join_side_shuffle(spark):
    """Both sides stored bucketed+sorted on the join key ⇒ the
    SortMergeJoin consumes buckets directly: zero shuffle and zero Sort on
    the join inputs, the only Exchange is the final rollup's.  Broadcast
    is disabled to force the big⋈big regime the layout exists for (with it
    on, Catalyst correctly broadcasts the small fixture side instead)."""
    from odc_product_docker_images_spark.sources.bucketed import table_bucketed_join

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = C.formatted_plan(table_bucketed_join(spark, SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    tree = plan.split("\n\n")[0]  # the tree diagram (details repeat names)
    assert "SortMergeJoin" in tree
    assert tree.count("Exchange") == 1, "expected ONLY the rollup Exchange"
    assert tree.index("Exchange") < tree.index("SortMergeJoin"), (
        "bucketed join sides still shuffle"
    )
    assert "Bucketed: true" in plan, "scan ignored the bucket layout"
    # NB: in-partition Sort nodes remain — Spark ≥3.0 ignores bucket sort
    # metadata on read (legacy-conf gated); the shuffle elimination is the
    # property that matters at scale (sorting n/16 rows locally is cheap,
    # moving n rows twice is not)


def test_approx_percentile_within_error(spark):
    from odc_product_docker_images_spark.operators.aggregates import (
        agg_approx_percentile,
        agg_median,
    )

    exact = {r["l_returnflag"]: r["median_qty"] for r in agg_median(spark, SF).collect()}
    approx = {r["l_returnflag"]: r["p50_qty"] for r in agg_approx_percentile(spark, SF).collect()}
    for k, med in exact.items():
        assert abs(approx[k] - med) <= 1.0, (k, approx[k], med)


def test_pii_scrub_is_shuffle_free_codegen(spark):
    """PII scrubbing must ride the scan stage: zero exchanges, no Python."""
    from odc_product_docker_images_spark.textvec.text_analysis import text_pii_scrub

    df = text_pii_scrub(spark, SF)
    C.assert_no_python_row_path(df)
    assert C.exchange_count(df) == 0
    C.assert_columns_pruned(df, {"doc_id", "text"})


def test_quantize_is_shuffle_free_expression(spark):
    """int8 quantization is per-row array math — zero exchanges, no Python,
    only the two needed columns read."""
    from odc_product_docker_images_spark.textvec.quantize import sim_quantize_int8

    df = sim_quantize_int8(spark, SF)
    C.assert_no_python_row_path(df)
    assert C.exchange_count(df) == 0
    C.assert_columns_pruned(df, {"vec_id", "embedding"})


def test_grouping_sets_single_shuffle(spark):
    """GROUPING SETS must expand BEFORE one exchange (fused multi-report),
    with map-side partial aggregation — not one job per report."""
    from odc_product_docker_images_spark.operators.aggregates import agg_grouping_sets

    df = agg_grouping_sets(spark, SF)
    plan = C.formatted_plan(df)
    assert "Expand" in plan
    assert C.exchange_count(df) == 1


def test_gap_fill_single_window_shuffle(spark):
    """Forward-fill is one hash-partition + sort on the pixel key."""
    from odc_product_docker_images_spark.operators.windows import window_gap_fill

    df = window_gap_fill(spark, SF)
    C.assert_no_python_row_path(df)
    assert C.exchange_count(df) == 1


def test_salted_join_spreads_hot_keys(spark):
    """The salted join must actually join on (key, salt) — a plan that
    drops the salt from the join keys re-concentrates the hot key — and
    must be a sort-merge join (broadcast would make the salt pointless)."""
    from odc_product_docker_images_spark.operators.joins_skew import join_skew_salted

    df = join_skew_salted(spark, SF)
    plan = C.formatted_plan(df)
    assert "SortMergeJoin" in plan
    left = re.search(r"Left keys \[\d+\]: \[([^\]]*)\]", plan)
    right = re.search(r"Right keys \[\d+\]: \[([^\]]*)\]", plan)
    assert left and "salt" in left.group(1)
    assert right and "salt" in right.group(1)


def test_regrid_bilinear_single_source_scan(spark):
    """The 4-corner sampling must come from ONE composited grid — a 4-way
    self-join re-scans and re-composites the source four times (DataFrames
    don't dedupe common subplans)."""
    from odc_product_docker_images_spark.operators.scans import regrid_bilinear

    df = regrid_bilinear(spark, SF)
    assert C.scan_count(df) == 1
    assert "CartesianProduct" not in C.formatted_plan(df).replace(
        "CartesianProduct", "", 1
    )  # exactly one cross join: the declared target lattice itself


def test_geomedian_bucketed_zero_exchange(spark):
    """The 100 TB geomedian: stored-bucketed pixel table ⇒ the holistic
    aggregate's ONE shuffle is gone — no Exchange node anywhere, and the
    scan itself carries the bucket layout."""
    from odc_product_docker_images_spark.kernels.geomedian import (
        agg_geomedian_bucketed,
    )

    df = agg_geomedian_bucketed(spark, SF)
    plan = C.formatted_plan(df)
    assert C.exchange_count(df) == 0
    assert "MapInPandas" in plan
    assert "Bucketed: true" in plan
    assert "BatchEvalPython" not in plan


def test_curation_e2e_broadcasts_eval_and_stays_linear(spark):
    """The full curation pipeline must have no quadratic join anywhere:
    contamination candidates come from a broadcast equi-join on the
    shingle, never a cartesian pair product."""
    from odc_product_docker_images_spark.textvec.pipeline import curation_pipeline_e2e

    df = curation_pipeline_e2e(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # eval shingle set rides a broadcast


def test_curation_e2e_degrades_broadcast_to_shuffle_join(spark, monkeypatch):
    """Above the size cap the corpus-derived eval shingle set must NOT be
    broadcast (it grows with the data): the decontamination join degrades
    to a shuffle equi-join on the shingle key — linear at any scale."""
    from odc_product_docker_images_spark.textvec import pipeline as P

    # below the cap the eval set rides an explicit broadcast hint
    assert C.broadcast_hint_count(P.curation_pipeline_e2e(spark, SF)) == 1

    monkeypatch.setattr(P, "_EVAL_BROADCAST_MAX_BYTES", 0)
    df = P.curation_pipeline_e2e(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Above the cap the query must not DEMAND the eval-set broadcast (an
    # explicit hint means the driver collects that side no matter how big
    # it turns out); the optimizer/AQE is still free to PICK a broadcast
    # off its size estimate when the built side is genuinely tiny.
    assert C.broadcast_hint_count(df) == 0


def test_geomad_single_shuffle_arrow(spark):
    """GeoMAD reuses the geomedian's one-shuffle shape: repartition on the
    pixel key, Arrow mapInPandas solve, and nothing else — the MAD step
    must not introduce a second Exchange or a row-Python path."""
    from odc_product_docker_images_spark.kernels.geomad import agg_geomedian_mads

    df = agg_geomedian_mads(spark, SF)
    assert C.exchange_count(df) == 1
    C.assert_no_python_row_path(df)


def test_focal_ops_shuffle_linearly(spark):
    """Focal mean: scan -> bin agg -> scatter -> agg = exactly 2 Exchanges;
    morphological close adds one more regroup = 3.  The 9x scatter must
    stay in codegen (no Python), and neither op may plan a join (the
    halo-drop trick replaces the join-back)."""
    from odc_product_docker_images_spark.operators.raster import (
        raster_focal_mean,
        raster_morph_close,
    )

    fm = raster_focal_mean(spark, SF)
    assert C.exchange_count(fm) == 2
    C.assert_no_python_row_path(fm)
    assert "Join" not in C.formatted_plan(fm)
    mc = raster_morph_close(spark, SF)
    assert C.exchange_count(mc) == 3
    assert "Join" not in C.formatted_plan(mc)


def test_stratified_sample_one_window_pass(spark):
    """row_number and the stratum count must come out of ONE partitioned
    window pass: exactly one Exchange (on the stratum key), no join."""
    from odc_product_docker_images_spark.textvec.sampling import sample_stratified

    df = sample_stratified(spark, SF)
    assert C.exchange_count(df) == 1
    assert "Join" not in C.formatted_plan(df)


def test_nearest_neighbor_join_is_blocked_not_cross(spark):
    """The NN join's reason to exist: candidates come from the grid-cell
    equi-join, never a cartesian product."""
    from odc_product_docker_images_spark.operators.joins_spatial import (
        join_nearest_neighbor,
    )

    plan = C.formatted_plan(join_nearest_neighbor(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q18_shape_filters_before_join_and_heaps_topk(spark):
    """The HAVING filter must run on the aggregate BEFORE the join back to
    orders, and the global top-100 must be TakeOrderedAndProject (per-
    partition heaps), never a full Sort of the joined table."""
    from odc_product_docker_images_spark.operators.composites_tpch import (
        composite_q18_shape,
    )

    df = composite_q18_shape(spark, SF)
    plan = C.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    # the filter on the rounded aggregate appears as a Filter above the
    # HashAggregate, below the Join — i.e. the join's left input row count
    # is the filtered one.  Structural proxy: no Sort node anywhere.
    assert "Sort [o_totalprice" not in plan


def test_percentile_composite_single_shuffle(spark):
    """p10/p50/p90 must share ONE grouped pass: a single Exchange."""
    from odc_product_docker_images_spark.operators.percentiles import (
        agg_percentile_composite,
    )

    assert C.exchange_count(agg_percentile_composite(spark, SF)) == 1


def test_heavy_hitters_shuffles_summaries_not_corpus(spark):
    """The MG sketch's reason to exist: after the Arrow summary pass, only
    summary rows move — the merge agg, the top-(K+1) compress, and the
    broadcast-back, never a corpus-wide token shuffle.  Structural pins:
    no row-Python, and the broadcast of the single-row decrement."""
    from odc_product_docker_images_spark.textvec.heavyhitters import (
        text_heavy_hitters,
    )

    df = text_heavy_hitters(spark, SF)
    C.assert_no_python_row_path(df)
    plan = C.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_pq_encode_is_map_side_only(spark):
    """PQ encode's scale claim: after the one-row codebook aggregate and
    its broadcast, the vector path has NO Exchange — assignment is pure
    map-side expressions.  The only two Exchanges in the whole plan are
    the codebook's own single-row agg + its BroadcastExchange."""
    from odc_product_docker_images_spark.textvec.pq import sim_quantize_pq

    df = sim_quantize_pq(spark, SF)
    plan = C.formatted_plan(df)
    assert C.exchange_count(df) == 2  # codebook agg + BroadcastExchange
    assert "BroadcastNestedLoopJoin" in plan  # 1-row codebook rides broadcast
    C.assert_no_python_row_path(df)


def test_streak_windows_share_one_exchange(spark):
    """Gaps-and-islands: both row_number windows and both follow-up aggs
    must ride ONE hash Exchange on the series key (the (user_id, wet)
    window's clustering is satisfied by the user_id partitioning)."""
    from odc_product_docker_images_spark.operators.windows_gaps import window_streak

    assert C.exchange_count(window_streak(spark, SF)) == 1


def test_burn_mapping_single_pass(spark):
    """Burn mapping's epoch split is a conditional aggregate: one scan,
    one Exchange — never a two-scan self-join."""
    from odc_product_docker_images_spark.operators.products2 import (
        product_burn_mapping,
    )

    df = product_burn_mapping(spark, SF)
    assert C.exchange_count(df) == 1
    assert "Join" not in C.formatted_plan(df)


def test_pq_adc_distance_is_lookups_not_vectors(spark):
    """ADC's scale property: the stored-vector side contributes codes via
    map-side encode (no Exchange between its scan and the probe join);
    the only hash Exchanges are the one-row codebook aggregate (appears
    twice statically — codes side and query side — deduped by runtime
    exchange reuse) and the final per-query top-k window."""
    from odc_product_docker_images_spark.textvec.pq import sim_ann_pq_adc

    df = sim_ann_pq_adc(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert C.exchange_count(df) == 6  # 2x(codebook agg+bcast) + qtab bcast + window
    C.assert_no_python_row_path(df)


def test_sql_frontend_plans_like_dataframes(spark):
    """Raw SQL through temp views must get the same physical treatment the
    DataFrame API gets: pushed priority filter, broadcast dim joins, and
    scans that prune to the referenced columns only."""
    from odc_product_docker_images_spark.operators.sql_frontend import sql_frontend

    df = sql_frontend(spark, SF)
    plan = C.formatted_plan(df)
    C.assert_filter_pushed(df, "o_orderpriority")
    assert "BroadcastHashJoin" in plan
    cols = C.read_schema_columns(df)
    assert "l_comment" not in cols and "o_comment" not in cols


def test_arrow_map_parallelizes_before_python(spark):
    """The repartition ahead of the PythonMapInArrow stage is the
    load-bearing parallelism fix for single-file inputs — pin that the
    Arrow stage sits above an Exchange, and that the pass is Arrow, not
    row-Python."""
    from odc_product_docker_images_spark.kernels.udfs import udf_arrow_map

    df = udf_arrow_map(spark, SF)
    plan = C.formatted_plan(df)
    assert "PythonMapInArrow" in plan or "MapInArrow" in plan
    assert C.exchange_count(df) == 1
    C.assert_no_python_row_path(df)


def test_pyramid_is_one_scan_one_exchange(spark):
    """The 4-level pyramid must come from ONE scan + ONE grouped shuffle
    (Expand before the exchange) — never a pass per level."""
    from odc_product_docker_images_spark.operators.pyramid import regrid_pyramid

    df = regrid_pyramid(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) == 1
    assert "Expand" in plan


def test_constraint_check_single_scan(spark):
    """All five constraints + the PK-uniqueness distinct must evaluate in
    one pass over one scan."""
    from odc_product_docker_images_spark.operators.profile import (
        table_constraint_check,
    )

    df = table_constraint_check(spark, SF)
    assert C.scan_count(df) == 1


def test_despike_single_window_sort(spark):
    """The lag/lead frame construction must ride ONE window Exchange+sort;
    the series stats join back broadcast (no sort-merge join)."""
    from odc_product_docker_images_spark.operators.windows_gaps import window_despike

    df = window_despike(spark, SF)
    plan = C.formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert plan.count("Window") >= 1


def test_conservative_regrid_two_linear_shuffles(spark):
    """Conservative resample: bin agg + fragment regather = exactly two
    Exchanges, no join (the overlap weights are pure arithmetic)."""
    from odc_product_docker_images_spark.operators.raster import regrid_conservative

    df = regrid_conservative(spark, SF)
    assert C.exchange_count(df) == 2
    assert "Join" not in C.formatted_plan(df)


def test_rerank_funnel_never_cross_joins_vectors(spark):
    """The two-stage funnel's contract: the exact stage is fed by the
    candidate equi-join (broadcast query side), never a cartesian over
    the corpus; no sort-merge join appears at fixture scale."""
    from odc_product_docker_images_spark.textvec.pq import sim_rerank_adc_exact

    plan = C.formatted_plan(sim_rerank_adc_exact(spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin " not in plan


def test_udtfs_are_arrow_batched_not_row_pickled(spark):
    """Both UDTFs must plan as ArrowEvalPythonUDTF (batched Arrow ser/de),
    never BatchEvalPythonUDTF (pickled row-at-a-time) — the r4 verdict's
    `ROW-UDF(!)` flag on the dynamic-schema UDTF, fixed via useArrow."""
    from odc_product_docker_images_spark.kernels.udfs import (
        udtf_chunk_text,
        udtf_dynamic_schema,
    )

    for fn in (udtf_chunk_text, udtf_dynamic_schema):
        plan = C.formatted_plan(fn(spark, SF))
        assert "ArrowEvalPythonUDTF" in plan, f"{fn.__name__}: no arrow UDTF node"
        assert "BatchEvalPython" not in plan, f"{fn.__name__}: row-pickled UDTF"


def test_curvilinear_projection_single_shuffle_no_python(spark):
    """The TM warp must ride the scan's codegen projection: one Exchange
    (the cell composite), zero Python nodes, columns pruned to the three
    the transform uses."""
    from odc_product_docker_images_spark.operators.scans import proj_crs_curvilinear

    df = proj_crs_curvilinear(spark, SF)
    assert C.exchange_count(df) == 1
    C.assert_no_python_row_path(df)
    C.assert_columns_pruned(df, {"event_id", "user_id", "value"})
    # (no codegen-id assert: with AQE + an Exchange the pre-execution
    # formatted plan is isFinalPlan=false and prints no codegen ids)


def test_mann_kendall_pairs_join_is_keyed_not_cartesian(spark):
    """The pairwise stage must be an equi-join on the series key (pair
    blow-up bounded per series), never a cartesian over observations."""
    from odc_product_docker_images_spark.operators.trend import agg_mann_kendall

    plan = C.formatted_plan(agg_mann_kendall(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    C.assert_no_python_row_path(agg_mann_kendall(spark, SF))


def test_semantic_dedup_pairs_stay_in_cluster_blocks(spark):
    """SemDeDup's contract: assignment broadcasts the K seeds (never a
    shuffled join against the corpus) and the quadratic stage is the
    per-cluster applyInPandas — no cartesian/SMJ pair join anywhere."""
    from odc_product_docker_images_spark.textvec.semantic import dedup_semantic

    df = dedup_semantic(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin " not in plan
    assert "BroadcastNestedLoopJoin" in plan  # K-seed broadcast onto the scan
    assert "FlatMapGroupsInPandas" in plan  # cluster-blocked gram stage
    assert "BatchEvalPython" not in plan


def test_lr_step_is_one_scan_one_aggregate(spark):
    """The GD step must be a single codegen'd scan feeding one global
    aggregate: 1 parquet scan, columns pruned to the feature/label set,
    no Python anywhere (sigmoid/log are JVM exprs)."""
    from odc_product_docker_images_spark.textvec.lr_filter import text_quality_lr_step

    df = text_quality_lr_step(spark, SF)
    assert C.scan_count(df) == 1
    C.assert_columns_pruned(df, {"lang", "n_chars", "text"})
    C.assert_no_python_row_path(df)
    plan = C.formatted_plan(df)
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan


def test_tiled_geotiff_sink_prunes_and_blocks_by_scene(spark):
    """The tiled sink's compute side: the composite the key itself builds
    (the shared builder's, clamped to the scene) prunes to the three cell
    columns and is one shuffle."""
    from odc_product_docker_images_spark.multimodal.geotiff import _TILED, _cells

    # pin the composite prefix (the sink itself writes to .tmp, so audit
    # the pre-write plan the same way PLANS.md does for the striped sink)
    cells = _cells(spark, SF, _TILED)
    C.assert_columns_pruned(cells, {"event_type", "user_id", "value"})
    assert C.exchange_count(cells) == 1


def test_cusum_is_pair_free_and_jvm_only(spark):
    """CUSUM's contract vs the Mann-Kendall pair join: O(n) per series —
    no join blow-up stage, no Python, columns pruned to the series set."""
    from odc_product_docker_images_spark.operators.changepoint import (
        window_cusum_change,
    )

    df = window_cusum_change(spark, SF)
    # the first cut planned 4 scans / 7 Exchanges (groupBy+join-back mean,
    # branch-duplicated argmax/minmax); the window form is 1 scan / 1 Exchange
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) == 1
    C.assert_no_python_row_path(df)
    C.assert_columns_pruned(df, {"user_id", "event_id", "ts", "value"})


def test_polygon_zone_join_broadcasts_edges(spark):
    """The edge table must broadcast onto the point stream (BNLJ over a
    LocalRelation) — never a shuffled join against the points — and the
    parity test stays a hash-agg."""
    from odc_product_docker_images_spark.operators.joins_polygon import (
        join_polygon_zone,
    )

    df = join_polygon_zone(spark, SF)
    plan = C.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin " not in plan
    assert C.scan_count(df) == 1
    C.assert_no_python_row_path(df)
    C.assert_columns_pruned(df, {"event_id", "user_id", "value"})


def test_tm_roundtrip_single_shuffle_no_python(spark):
    """Both projection legs must ride the scan's codegen stage: one
    Exchange (the cell composite), zero Python, pruned to three columns."""
    from odc_product_docker_images_spark.operators.reproject_inverse import (
        proj_crs_roundtrip,
    )

    df = proj_crs_roundtrip(spark, SF)
    assert C.exchange_count(df) == 1
    C.assert_no_python_row_path(df)
    # event_id rides the logical projection but no aggregate consumes it,
    # so Catalyst prunes the scan to just the two coordinate sources
    C.assert_columns_pruned(df, {"user_id", "value"})


def test_substring_dedup_is_linear_relational(spark):
    """Exact-substring dedup must stay three linear shuffles: one scan,
    no join (occurrence counts are a window over the hash partitioning),
    no Python, no cartesian."""
    from odc_product_docker_images_spark.textvec.substrings import (
        dedup_substring_spans,
    )

    df = dedup_substring_spans(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # window-count form, not a df join-back
    C.assert_no_python_row_path(df)


def test_temperature_mixing_broadcasts_rate_table(spark):
    """The derived mixture table must broadcast back onto the doc scan
    (count pass + gated pass, both linear): 2 scans, broadcast join,
    no shuffle of the corpus keyed on anything but source."""
    from odc_product_docker_images_spark.textvec.mixing import data_mix_temperature

    df = data_mix_temperature(spark, SF)
    assert C.scan_count(df) == 2
    C.assert_broadcast_join(df)
    C.assert_no_python_row_path(df)


def test_seasonal_zscore_two_partitioned_windows_only(spark):
    """One scan; the month climatology and the series rollup are the only
    shuffles; no Python; no unpartitioned data window."""
    from odc_product_docker_images_spark.operators.changepoint import (
        window_seasonal_zscore,
    )

    df = window_seasonal_zscore(spark, SF)
    # groupBy+join-back first cut planned 2 scans / 5 Exchanges; the
    # all-windows form is one scan with the month + series partitions
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 2
    C.assert_no_python_row_path(df)
    C.assert_columns_pruned(df, {"user_id", "event_id", "ts", "value"})


def test_image_resize_is_zero_shuffle_arrow_map(spark):
    """Resize must stay the zero-shuffle Arrow map shape: one scan, the
    fan-out repartition as the only Exchange, a MapInPandas node, no
    row-UDF."""
    from odc_product_docker_images_spark.multimodal.resize import (
        multimodal_image_resize,
    )

    df = multimodal_image_resize(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) == 1  # the explicit fan-out repartition
    plan = C.formatted_plan(df)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_ohlc_is_one_grouped_shuffle(spark):
    """OHLC bars: min_by/max_by hash aggregate, one Exchange, map-side
    partials, no window pass and no join."""
    from odc_product_docker_images_spark.operators.resample import agg_resample_ohlc

    df = agg_resample_ohlc(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) == 1
    plan = C.formatted_plan(df)
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    C.assert_no_python_row_path(df)


def test_drift_psi_shuffles_bins_not_corpus(spark):
    """Drift: one scan, the bin hash-agg as the only corpus shuffle; the
    spine join broadcasts; CDF windows run over the 10-row bin table."""
    from odc_product_docker_images_spark.operators.drift import profile_drift_psi

    df = profile_drift_psi(spark, SF)
    assert C.scan_count(df) == 1
    C.assert_no_python_row_path(df)
    plan = C.formatted_plan(df)
    assert "SortMergeJoin " not in plan


def test_funnel_is_single_scan_single_exchange(spark):
    """Cascaded conditional-MIN windows and the rollup all share one user
    partitioning: 1 scan, 1 Exchange, no join, no Python."""
    from odc_product_docker_images_spark.operators.funnel import agg_funnel_steps

    df = agg_funnel_steps(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) == 1
    assert "Join" not in C.formatted_plan(df)
    C.assert_no_python_row_path(df)


def test_unpivot_is_map_side_expand(spark):
    """UNPIVOT must plan as an Expand over the scan: zero shuffles, the
    fan-out happens map-side."""
    from odc_product_docker_images_spark.operators.projections import (
        proj_unpivot_bands,
    )

    df = proj_unpivot_bands(spark, SF)
    assert C.exchange_count(df) == 0
    assert "Expand" in C.formatted_plan(df)
    C.assert_no_python_row_path(df)


def test_retention_single_scan_windowed_cohort_size(spark):
    """Cohort sizes come from a window over the distinct rows, not a
    join-back (which duplicated the subtree: 2 scans / 5 Exchanges)."""
    from odc_product_docker_images_spark.operators.funnel import agg_retention_cohort

    df = agg_retention_cohort(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 3
    assert "Join" not in C.formatted_plan(df)
    C.assert_no_python_row_path(df)


def test_skew_profiler_is_one_pass_over_k_keys(spark):
    """Profiling K candidate keys must cost ONE scan (map-side Expand),
    not K passes."""
    from odc_product_docker_images_spark.operators.profile import profile_skew_keys

    df = profile_skew_keys(spark, SF)
    assert C.scan_count(df) == 1
    assert "Expand" in C.formatted_plan(df)
    C.assert_no_python_row_path(df)


def test_subtree_rollup_has_no_joins_or_iterations(spark):
    """The closed-form closure must compile to scan -> explode -> one
    grouped shuffle: no join, no Python, 1 scan."""
    from odc_product_docker_images_spark.operators.hierarchy import (
        graph_subtree_rollup,
    )

    df = graph_subtree_rollup(spark, SF)
    assert C.scan_count(df) == 1
    assert "Join" not in C.formatted_plan(df)
    C.assert_no_python_row_path(df)


def test_gini_rank_is_distributed_not_three_tasks(spark):
    """The per-group rank must be the range-partitioned prefix-sum form
    (local windows keyed (pid, group) + broadcast offsets), never a
    3-partition global window — the plan must carry a partition-id
    projection and a broadcast join."""
    from odc_product_docker_images_spark.operators.aggregates import agg_gini

    df = agg_gini(spark, SF)
    plan = C.formatted_plan(df)
    assert "SPARK_PARTITION_ID" in plan.upper()
    assert "rangepartitioning" in plan.lower()
    assert "BroadcastHashJoin" in plan
    C.assert_no_python_row_path(df)


def test_bloom_prefilter_probes_are_broadcast_map_side(spark):
    """The Bloom pre-filter's whole point is that the fact table never
    shuffles before elimination: both bitmap probes and the exact verify
    must be broadcast joins (the bitmap is <= 1024 rows; the dim side is
    the filtered key set), with zero SortMergeJoin anywhere."""
    from odc_product_docker_images_spark.operators.runtime_filters import (
        join_bloom_prefilter,
    )

    df = join_bloom_prefilter(spark, SF)
    plan = C.formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # 2 probes + exact verify
    C.assert_no_python_row_path(df)


def test_partition_pruned_join_carries_dpp_subquery(spark):
    """The year-partitioned fact scan must be pruned by the dim filter AT
    RUNTIME: the scan's PartitionFilters must carry a
    dynamicpruningexpression (static pruning can't apply — the filter is
    on the dim attribute, not the partition column)."""
    from odc_product_docker_images_spark.operators.runtime_filters import (
        join_partition_pruned,
    )

    df = join_partition_pruned(spark, SF)
    plan = C.formatted_plan(df)
    assert "dynamicpruning" in plan.lower()
    assert "BroadcastHashJoin" in plan


def test_range_bucket_join_is_equi_not_nested_loop(spark):
    """The bucketed range join exists to REPLACE the nested loop: the
    interval-point pairing must ride an equi-join on the grid cell (any
    hash/sort-merge join node), with no BroadcastNestedLoopJoin and no
    CartesianProduct anywhere in the plan."""
    from odc_product_docker_images_spark.operators.joins import join_range_bucket

    df = join_range_bucket(spark, SF)
    plan = C.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(df)


def test_ttest_fact_scan_is_single_pass(spark):
    """Welch t-test must scan events ONCE (sufficient statistics first);
    the pair expansion is the one-row array self-cross — no join node at
    all (a self-join would re-plan the scan per side)."""
    from odc_product_docker_images_spark.operators.metrics import agg_ttest_welch

    df = agg_ttest_welch(spark, SF)
    assert C.scan_count(df) == 1
    assert "Join" not in C.formatted_plan(df)
    C.assert_no_python_row_path(df)


def test_rolling_slope_shares_one_partitioned_sort(spark):
    """All four running sums and the row index must share the user_id
    partitioning: exactly one Exchange, no join-back."""
    from odc_product_docker_images_spark.operators.metrics import window_rolling_slope

    df = window_rolling_slope(spark, SF)
    assert C.exchange_count(df) == 1
    plan = C.formatted_plan(df)
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_scd2_build_is_single_shuffle(spark):
    """Both window passes (lag-collapse, lead-intervals) reuse the same
    (user_id) partitioning — one Exchange, no joins."""
    from odc_product_docker_images_spark.operators.scd import table_scd2_build

    df = table_scd2_build(spark, SF)
    assert C.exchange_count(df) == 1
    plan = C.formatted_plan(df)
    assert "Join" not in plan


def test_rolling_distinct_is_one_grouped_pass(spark):
    """DAU and WAU must come from ONE grouped aggregation over the
    exploded grid — no join between separate DAU/WAU branches (the
    off=0-slice trick), no nested-loop."""
    from odc_product_docker_images_spark.operators.metrics import agg_rolling_distinct

    df = agg_rolling_distinct(spark, SF)
    plan = C.formatted_plan(df)
    assert "Join" not in plan
    assert C.scan_count(df) == 1


def test_triangle_count_reads_materialized_orientation(spark):
    """All five consumers (wedge sides, closure, degrees, edge count)
    must read the write-once oriented-edge artifact — no re-derivation of
    the self-join/degree subtree per branch, no cartesian anywhere."""
    from odc_product_docker_images_spark.operators.graph import graph_triangle_count

    df = graph_triangle_count(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    # wedge + closure pairing must be equi-joins (the 1-row scalar combine
    # at the end is allowed to be a broadcast nested loop); since r12 the
    # probe joins are SHUFFLE_HASH-hinted (edge-bounded build sides, no
    # 41M-row wedge sort — guide §3.1)
    assert (
        "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
    )
    # every parquet scan is the .tmp artifact, not lineitem
    assert "lineitem" not in plan


def test_lm_bigram_two_corpus_touches_only(spark):
    """Fit + score: the corpus may be scanned at most twice; the model
    windows (context totals, vocab rank) run over the TYPE table only —
    and the bigram stream comes from a doc-partitioned lag window, never
    a positional self-join."""
    from odc_product_docker_images_spark.textvec.lm_bigram import text_lm_bigram

    df = text_lm_bigram(spark, SF)
    assert C.scan_count(df) <= 2
    C.assert_no_python_row_path(df)


def test_assoc_rules_consumers_share_grid_artifact(spark):
    """Pairs, item marginals, and the basket total all derive from the
    write-once grid artifact — no lineitem re-scan, no cartesian; the
    1-row basket total rides a broadcast.  r12: pairs explode from the
    persisted per-basket array (a Generate node), never a basket
    self-join — no SortMergeJoin anywhere in the plan."""
    from odc_product_docker_images_spark.operators.assoc import agg_assoc_rules

    df = agg_assoc_rules(spark, SF)
    plan = C.formatted_plan(df)
    assert "lineitem" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan
    assert "SortMergeJoin" not in plan


def test_weighted_sample_is_one_stratum_window(spark):
    """A-ES keying is map-side arithmetic; the only shuffle is the
    stratum-partitioned ranking window (never a global sort)."""
    from odc_product_docker_images_spark.textvec.sampling import sample_weighted

    df = sample_weighted(spark, SF)
    assert C.exchange_count(df) == 1
    assert C.scan_count(df) == 1
    C.assert_no_python_row_path(df)


def test_attribution_pairing_is_equi_join_one_window(spark):
    """The lookback pairing must be the grid-cell EQUI-join (no nested
    loop) and both attribution models must come from windows over the one
    pair stream (no join-back, no second purchase branch)."""
    from odc_product_docker_images_spark.operators.attribution import agg_attribution

    df = agg_attribution(spark, SF)
    plan = C.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert C.scan_count(df) == 2  # purchases + touches slices of events
    C.assert_no_python_row_path(df)


def test_link_prediction_caps_hubs_and_takes_ordered_topn(spark):
    """Wedge centers must be degree-capped BEFORE pairing (pushed filter
    on deg), every scan reads the oriented artifact, and the top-N must
    compile to TakeOrderedAndProject, not a global sort.  r12: wedges
    explode from the per-center sorted neighbor array (Generate), never
    an adjacency self-join — the anti/degree joins remain."""
    from odc_product_docker_images_spark.operators.graph import graph_link_prediction

    df = graph_link_prediction(spark, SF)
    plan = C.formatted_plan(df)
    assert "lineitem" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan


def test_chi_square_single_scan_cell_windows(spark):
    """The contingency build scans events once; marginals are windows
    over the tiny cell table — no joins anywhere."""
    from odc_product_docker_images_spark.operators.metrics import agg_chi_square

    df = agg_chi_square(spark, SF)
    assert C.scan_count(df) == 1
    assert "Join" not in C.formatted_plan(df)
    C.assert_no_python_row_path(df)


def test_survival_curve_single_scan_small_windows(spark):
    """The only corpus-sized work is the per-user MIN/MAX agg (one scan);
    the KM chain runs on the per-duration table with no joins."""
    from odc_product_docker_images_spark.operators.survival import agg_survival_curve

    df = agg_survival_curve(spark, SF)
    assert C.scan_count(df) == 1
    assert "Join" not in C.formatted_plan(df)
    C.assert_no_python_row_path(df)


def test_geohash_is_pure_codegen_single_shuffle(spark):
    """The whole encode (cell index, Morton interleave, base32) must ride
    the scan's codegen stage: no UDF, one scan, one grouped Exchange."""
    from odc_product_docker_images_spark.functions.scalars import scalar_geohash

    df = scalar_geohash(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) == 1
    C.assert_no_python_row_path(df)


def test_holt_kernel_is_arrow_grouped_single_shuffle(spark):
    """The recursion runs as an Arrow-batched grouped kernel after ONE
    shuffle on the series key — never row-at-a-time Python."""
    from odc_product_docker_images_spark.kernels.holt import forecast_holt

    df = forecast_holt(spark, SF)
    plan = C.formatted_plan(df)
    # r12: the kernel is applyInArrow (FlatMapGroupsInArrow) — the
    # per-group pandas conversion was ~75% of the key's wall time
    assert "FlatMapGroupsInArrow" in plan
    assert "BatchEvalPython" not in plan
    assert C.exchange_count(df) == 1


def test_markov_transitions_reuses_user_partitioning(spark):
    """The per-user lag window must ride the explicit user_id
    repartition (no second corpus-sized Exchange); the normalisation
    window runs on the |types|²-bounded matrix."""
    from odc_product_docker_images_spark.operators.behavior import (
        agg_markov_transitions,
    )

    df = agg_markov_transitions(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 3
    C.assert_no_python_row_path(df)


def test_rfm_ranks_are_distributed_not_single_task(spark):
    """Each of the three global quartile orderings must be the
    range-partitioned prefix-offset form (agg_gini pattern): partition-id
    projection + range partitioning + broadcast offset joins, never a
    single-task NTILE window over the customer dimension."""
    import re

    from odc_product_docker_images_spark.operators.behavior import (
        agg_rfm_segments,
    )

    df = agg_rfm_segments(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "SPARK_PARTITION_ID" in plan.upper()
    assert plan.lower().count("rangepartitioning") >= 3
    assert "BroadcastHashJoin" in plan
    # distinct Exchange nodes (the raw string count is inflated by the
    # cached-subplan printing): 3 × (range + offsets-agg + offsets-window
    # + broadcast) + the orders→customer agg
    assert len(set(re.findall(r"\((\d+)\) Exchange", plan))) <= 13
    C.assert_no_python_row_path(df)


def test_plan_counts_ignore_execution_and_cache_state(spark):
    """A plan's counts read the same on a fresh frame, on the same frame
    after an action and on a new frame over the warm cache: once an
    adaptive plan has run, Spark prints its final plan beside the
    initial one (new node ids) under every frame that reads it, which
    ``formatted_plan`` leaves out."""
    from odc_product_docker_images_spark.operators.behavior import (
        agg_rfm_segments,
    )

    def counts(df):
        plan = C.formatted_plan(df)
        return (
            C.exchange_count(df),
            C.scan_count(df),
            C.codegen_stage_count(df),
            len(set(re.findall(r"\((\d+)\) Exchange", plan))),
            len(C.partitionless_window_inputs(df)),
        )

    spark.catalog.clearCache()  # the key's persisted slices start cold
    try:
        df = agg_rfm_segments(spark, SF)
        fresh = counts(df)
        df.collect()
        assert counts(df) == fresh
        assert counts(agg_rfm_segments(spark, SF)) == fresh
    finally:
        spark.catalog.clearCache()


def test_benford_total_window_is_digit_bounded(spark):
    """The only corpus-sized stage is the grouped digit count; the
    no-partition total window runs on ≤9 rows, and the digit extraction
    is the exact integer path (no log10 in the plan)."""
    from odc_product_docker_images_spark.operators.profile import (
        profile_benford,
    )

    df = profile_benford(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 2
    assert "LOG10" not in plan.upper()
    C.assert_no_python_row_path(df)


def test_interpolation_shares_one_window_sort(spark):
    """All four IGNORE-NULLS neighbor lookups must share a single (user)
    partition spec: one scan, one Exchange, one Window, one Sort."""
    import re

    from odc_product_docker_images_spark.operators.windows_gaps import (
        window_interpolate_linear,
    )

    df = window_interpolate_linear(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 1
    assert len(set(re.findall(r"\((\d+)\) Sort", plan))) == 1
    C.assert_no_python_row_path(df)


def test_inverted_index_has_no_corpus_rescan(spark):
    """One documents scan feeds tf → df-window → segment rollup; the df
    window runs on the deduped (token, doc) stream, never raw tokens."""
    from odc_product_docker_images_spark.textvec.retrieval import (
        text_inverted_index,
    )

    df = text_inverted_index(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 3
    C.assert_no_python_row_path(df)


def test_incremental_join_refresh_broadcasts_dimension(spark):
    """The IVM refresh joins the change-feed delta to the dimension via
    broadcast (never shuffling the feed), and the whole path stays off
    row-at-a-time Python."""
    from odc_product_docker_images_spark.sources.incremental import (
        table_incremental_join,
    )

    df = table_incremental_join(spark, SF)
    plan = C.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    C.assert_no_python_row_path(df)


def test_url_dedup_is_one_hash_shuffle(spark):
    """Canonicalization is codegen string/array exprs riding the scan;
    the dedup rollup is the repartition + one canonical-key hash agg."""
    from odc_product_docker_images_spark.textvec.urls import dedup_url_canonical

    df = dedup_url_canonical(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 2
    C.assert_no_python_row_path(df)


def test_rolling_median_shares_one_frame_sort(spark):
    """Both quantiles index ONE sorted frame collection: a single window
    Exchange+Sort, no self-join, no second scan."""
    import re

    from odc_product_docker_images_spark.operators.windows_gaps import (
        window_rolling_median,
    )

    df = window_rolling_median(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 1
    assert len(set(re.findall(r"\((\d+)\) Sort", plan))) == 1
    C.assert_no_python_row_path(df)


def test_cohort_ltv_windows_stay_cell_sized(spark):
    """First-seen is the only corpus-sized window; cohort size and the
    cumulative revenue ride windows over the CELL table (no join-back,
    no subtree duplication — the retention-key discipline)."""
    from odc_product_docker_images_spark.operators.funnel import agg_cohort_ltv

    df = agg_cohort_ltv(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 3
    C.assert_no_python_row_path(df)


def test_token_entropy_reuses_doc_partitioning(spark):
    """The explicit doc_id repartition satisfies BOTH grouped aggregates
    (hash(doc_id) clusters (doc_id, token) too): one Exchange total."""
    from odc_product_docker_images_spark.textvec.text_analysis import (
        text_token_entropy,
    )

    df = text_token_entropy(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 1
    C.assert_no_python_row_path(df)


def test_cuped_is_sufficient_statistics_only(spark):
    """Events are scanned once; after the per-user and per-arm aggs the
    pooled-θ stage is a 2-row SinglePartition window — no join back to
    the user table, nothing corpus-sized past the first Exchange."""
    from odc_product_docker_images_spark.operators.metrics import agg_cuped

    df = agg_cuped(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 3
    C.assert_no_python_row_path(df)


def test_hybrid_rrf_rankers_use_takeordered(spark):
    """Both ranker candidate sets come from TakeOrderedAndProject (a
    per-partition heap), never a global sort of the corpus; the fusion
    join runs on constant-bounded rows."""
    from odc_product_docker_images_spark.textvec.retrieval import sim_hybrid_rrf

    df = sim_hybrid_rrf(spark, SF)
    plan = C.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert C.scan_count(df) <= 3  # bm25's stats rollup + join-back, embeddings
    C.assert_no_python_row_path(df)


def test_holt_winters_is_one_series_shuffle(spark):
    """Triple smoothing: one Exchange on the series key into the Arrow
    grouped kernel — same contract as forecast_holt."""
    from odc_product_docker_images_spark.kernels.holt import forecast_holt_winters

    df = forecast_holt_winters(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 1
    assert "FlatMapGroupsInArrow" in plan  # r12 applyInArrow kernel


def test_bootstrap_ci_shuffles_replicate_cells_only(spark):
    """The 101-way explode and per-replicate md5 weights are map-side;
    the only shuffles carry (variant, replicate) cells and the O(variants)
    rollup — never the exploded corpus unaggregated."""
    from odc_product_docker_images_spark.operators.metrics import agg_bootstrap_ci

    df = agg_bootstrap_ci(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 3
    C.assert_no_python_row_path(df)


def test_sessionize_reuses_one_user_exchange(spark):
    """Gap flag, running session index, and the session rollup all ride
    ONE (user) hash partitioning: single Exchange, single Sort."""
    import re

    from odc_product_docker_images_spark.operators.windows_gaps import (
        agg_sessionize,
    )

    df = agg_sessionize(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 1
    assert len(set(re.findall(r"\((\d+)\) Sort", plan))) == 1
    C.assert_no_python_row_path(df)


def test_modularity_is_one_endpoint_pass(spark):
    """Degrees, intra counts, and node counts all come from one grouped
    agg over the exploded endpoint stream; the global m is a K-row
    window — no edge-table re-scan, no join."""
    from odc_product_docker_images_spark.operators.graph import graph_modularity

    df = graph_modularity(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan or "BroadcastNestedLoopJoin" not in plan
    C.assert_no_python_row_path(df)


def test_tar_index_is_pack_then_arrow_walk(spark):
    """One corpus shuffle into the shard packer, then an Arrow map pass
    over shard blobs — no second documents scan, no join."""
    from odc_product_docker_images_spark.multimodal.tar_shards import (
        multimodal_tar_index,
    )

    df = multimodal_tar_index(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "FlatMapGroupsInPandas" in plan
    assert "MapInPandas" in plan
    assert "Join" not in plan


def test_safetensors_roundtrip_is_pack_then_arrow_decode(spark):
    """One embeddings shuffle into the batch packer, then an Arrow map
    decode over blobs — no second scan, no join."""
    from odc_product_docker_images_spark.multimodal.safetensors import (
        multimodal_safetensors_roundtrip,
    )

    df = multimodal_safetensors_roundtrip(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "FlatMapGroupsInPandas" in plan
    assert "MapInPandas" in plan
    assert "Join" not in plan


def test_rake_scores_words_via_windows_not_joinback(spark):
    """Word freq/degree are windows over the single phrase-word stream —
    the candidate subtree plans once (1 scan), no score join-back."""
    from odc_product_docker_images_spark.textvec.text_analysis import (
        text_keyphrase_rake,
    )

    df = text_keyphrase_rake(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 3
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_haversine_join_blocks_on_cells(spark):
    """Candidates meet on a cell equi-join (hash join), never a
    cross/nested-loop product of the point sets."""
    from odc_product_docker_images_spark.operators.joins_spatial import (
        join_haversine_radius,
    )

    df = join_haversine_radius(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert C.scan_count(df) == 2
    C.assert_no_python_row_path(df)


def test_kalman_is_one_series_shuffle(spark):
    """Optimal-gain filter: one Exchange on the series key into the
    Arrow grouped kernel — the smoothing-family contract."""
    from odc_product_docker_images_spark.kernels.holt import forecast_kalman_1d

    df = forecast_kalman_1d(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 1
    assert "FlatMapGroupsInArrow" in plan  # r12 applyInArrow kernel


def test_delete_vectors_read_is_broadcast_anti_join(spark):
    """The merge-on-read path subtracts tombstones with a broadcast
    position anti-join — no predicate re-evaluation, no data rewrite."""
    from odc_product_docker_images_spark.sources.versioned import (
        table_delete_vectors,
    )

    df = table_delete_vectors(spark, SF)
    plan = C.formatted_plan(df)
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    C.assert_no_python_row_path(df)


def test_theil_sen_taps_share_one_window(spark):
    """All 14 lag taps (7 t + 7 y) ride one window spec: one Exchange,
    one Sort; the 21 pairwise slopes are a codegen'd expression array."""
    import re

    from odc_product_docker_images_spark.operators.windows_gaps import (
        window_theil_sen,
    )

    df = window_theil_sen(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 1
    assert len(set(re.findall(r"\((\d+)\) Sort", plan))) == 1
    C.assert_no_python_row_path(df)


def test_hhi_market_total_is_window_not_joinback(spark):
    """The market spend total rides a window over the firm table — no
    join-back, firm table is dimension-sized."""
    from odc_product_docker_images_spark.operators.metrics import (
        agg_hhi_concentration,
    )

    df = agg_hhi_concentration(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_gmm_em_step_is_one_global_agg(spark):
    """E-step is map-side codegen; M-step one global aggregate with
    partials — single scan, ≤1 Exchange, no Python."""
    from odc_product_docker_images_spark.operators.metrics import ml_gmm_em_step

    df = ml_gmm_em_step(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 1
    C.assert_no_python_row_path(df)


def test_drawdown_rollup_reuses_window_exchange(spark):
    """Running-peak window and the per-series rollup share one (user)
    partitioning — single Exchange total."""
    from odc_product_docker_images_spark.operators.windows_gaps import (
        window_drawdown,
    )

    df = window_drawdown(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 1
    C.assert_no_python_row_path(df)


def test_scd2_asof_is_key_equijoin(spark):
    """The interval predicate rides a dimension-key equi-join — no
    nested-loop over intervals."""
    from odc_product_docker_images_spark.operators.scd import join_scd2_asof

    df = join_scd2_asof(spark, SF)
    plan = C.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(df)


def test_ridge_is_one_aggregate_pass(spark):
    """Nine sufficient sums from one fact aggregate; the Cramer solve is
    a 1-row fixed-arithmetic stage."""
    from odc_product_docker_images_spark.operators.trend import (
        ml_ridge_closed_form,
    )

    df = ml_ridge_closed_form(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 1
    C.assert_no_python_row_path(df)


def test_pca_step_shuffles_dimension_cells_only(spark):
    """The Gram matrix is never materialized: projection rides the scan,
    the only corpus shuffle carries 64-key partial sums, the norm is a
    64-row window."""
    from odc_product_docker_images_spark.textvec.kmeans import ml_pca_power_step

    df = ml_pca_power_step(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_lift_table_rank_is_distributed_not_single_task(spark):
    """The global decile rank is range-partitioned + offset-broadcast
    (the agg_gini pattern) — no corpus-wide single-task window."""
    from odc_product_docker_images_spark.operators.metrics import ml_lift_table

    df = ml_lift_table(spark, SF)
    plan = C.formatted_plan(df)
    assert "RangePartitioning" in plan or "rangepartitioning" in plan.lower()
    assert "BroadcastHashJoin" in plan
    C.assert_no_python_row_path(df)


def test_mann_whitney_rank_is_distributed(spark):
    """Global midranks come from the range-partitioned rank + tie
    windows, never a corpus single-task sort; pairs via the one-row
    array self-cross (no self-join of the summary subtree)."""
    from odc_product_docker_images_spark.operators.metrics import agg_mann_whitney

    df = agg_mann_whitney(spark, SF)
    plan = C.formatted_plan(df)
    assert "rangepartitioning" in plan.lower()
    C.assert_no_python_row_path(df)


def test_feature_hashing_reuses_doc_partitioning(spark):
    """Hash+bucket ride the scan; (doc, bucket) agg and the per-doc
    rollup share the explicit doc partitioning — one Exchange."""
    from odc_product_docker_images_spark.textvec.text_analysis import (
        text_feature_hashing,
    )

    df = text_feature_hashing(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 1
    C.assert_no_python_row_path(df)


def test_dbscan_core_blocks_on_cells(spark):
    """Self-join candidates meet on the cell equi-join, never a
    cartesian/NL product."""
    from odc_product_docker_images_spark.operators.joins_spatial import (
        geo_dbscan_core,
    )

    df = geo_dbscan_core(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    C.assert_no_python_row_path(df)


def test_gopher_battery_is_zero_shuffle(spark):
    """The whole rule battery rides the scan as codegen array exprs."""
    from odc_product_docker_images_spark.textvec.text_analysis import (
        text_quality_gopher,
    )

    df = text_quality_gopher(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) == 0
    C.assert_no_python_row_path(df)


def test_asof_nearest_buckets_then_argmin(spark):
    """Candidates meet on the (user, time-bucket) equi-join and the
    winner is a min-of-struct aggregate — no per-user all-pairs, no
    window over the candidate set."""
    from odc_product_docker_images_spark.operators.joins import join_asof_nearest

    df = join_asof_nearest(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    C.assert_no_python_row_path(df)


def test_target_encoding_has_no_global_window(spark):
    """Category stats are windows on the cat partition; the global prior
    is a 1-row broadcast — never a corpus-wide SinglePartition window."""
    from odc_product_docker_images_spark.operators.metrics import (
        ml_target_encoding,
    )

    import re

    df = ml_target_encoding(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) <= 2  # base + prior rollup (exchange-reused)
    assert "BroadcastExchange" in plan
    # exactly ONE Window node (the cat partition) — the global prior must
    # not add a SinglePartition window over the corpus
    assert len(set(re.findall(r"\((\d+)\) Window", plan))) == 1
    C.assert_no_python_row_path(df)


def test_spc_rollup_reuses_series_exchange(spark):
    """Control limits, lag flags, and the rule rollup all ride one
    (user) partitioning — single Exchange."""
    from odc_product_docker_images_spark.operators.windows_gaps import (
        agg_spc_rules,
    )

    df = agg_spc_rules(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 1
    C.assert_no_python_row_path(df)


def test_fifo_allocation_joins_on_part_only(spark):
    """FIFO matching is a part equi-join of the two interval streams —
    a hash/sort-merge join, never cartesian; both cumulative windows
    share one ordering."""
    from odc_product_docker_images_spark.operators.joins import agg_fifo_allocation

    df = agg_fifo_allocation(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    C.assert_no_python_row_path(df)


def test_revenue_bridge_is_one_conditional_agg(spark):
    """Both periods come from conditional sums in ONE customer agg —
    never two period scans joined back."""
    from odc_product_docker_images_spark.operators.metrics import (
        agg_revenue_bridge,
    )

    df = agg_revenue_bridge(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_skyline_prefix_min_is_distributed(spark):
    """The running minimum is range-partitioned + carry-broadcast — no
    corpus-wide SinglePartition window."""
    import re

    from odc_product_docker_images_spark.operators.metrics import agg_skyline_2d

    df = agg_skyline_2d(spark, SF)
    plan = C.formatted_plan(df)
    assert "rangepartitioning" in plan.lower()
    assert "BroadcastHashJoin" in plan
    C.assert_no_python_row_path(df)


def test_backtest_metrics_share_series_exchange(spark):
    """Lag window and the metric rollup ride one series partitioning."""
    from odc_product_docker_images_spark.kernels.holt import (
        forecast_backtest_metrics,
    )

    df = forecast_backtest_metrics(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 1
    C.assert_no_python_row_path(df)


def test_did_is_one_cell_pass(spark):
    """Four conditional cell sums from one grouped pass; the estimator
    is a 1-row stage."""
    from odc_product_docker_images_spark.operators.metrics import agg_diff_in_diff

    df = agg_diff_in_diff(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_survivorship_is_one_entity_exchange(spark):
    """All three LAST-IGNORE-NULLS fields, the survivor pick, and the
    record count share one (entity) partitioning — single Exchange."""
    from odc_product_docker_images_spark.textvec.urls import dedup_survivorship

    df = dedup_survivorship(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 1
    C.assert_no_python_row_path(df)


def test_bfs_frontiers_are_anti_joins_not_rescans(spark):
    """Expansions are equi-joins on the persisted undirected edge list
    plus broadcast anti-joins against visited tiers — no cartesian."""
    from odc_product_docker_images_spark.operators.graph import graph_bfs_step

    df = graph_bfs_step(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    C.assert_no_python_row_path(df)


def test_markov_absorption_solve_is_one_row_stage(spark):
    """Corpus work is one lag window + one pair count; the (I-Q)^-1 R
    Cramer solve runs in a 1-row stage."""
    from odc_product_docker_images_spark.operators.behavior import (
        agg_markov_absorption,
    )

    df = agg_markov_absorption(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_phenology_metrics_share_one_pixel_exchange(spark):
    """Amplitude windows and every conditional timing aggregate ride the
    same pixel partitioning — single Exchange."""
    from odc_product_docker_images_spark.operators.products2 import (
        product_phenology,
    )

    df = product_phenology(spark, SF)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) <= 1
    C.assert_no_python_row_path(df)


def test_logrank_corpus_work_is_one_user_agg(spark):
    """Only the per-user MIN/MAX agg is corpus-sized; everything after
    runs on the duration table."""
    from odc_product_docker_images_spark.operators.survival import (
        agg_logrank_test,
    )

    df = agg_logrank_test(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_ks_ecdf_uses_distributed_prefix_not_global_window(spark):
    """Both ECDFs ride ``global_prefix`` over the value-grouped counts:
    events is scanned once (the offsets branch reads the persisted
    slices), the only partition-less window runs on the per-slice
    offsets table, never on the data, and the winner is a limit-1
    TakeOrdered."""
    from odc_product_docker_images_spark.operators.stats_tests import agg_ks_test

    df = agg_ks_test(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(df)
    inputs = C.partitionless_window_inputs(df)
    assert not any(
        re.search(r"\b(value|user_id|c1|c0)#", i) for i in inputs
    ), inputs


def test_anova_is_one_corpus_agg_no_joins(spark):
    """Sufficient stats in one hash aggregate; grand totals are windows
    over the #groups-row table, never a re-planned join-back branch."""
    from odc_product_docker_images_spark.operators.stats_tests import (
        agg_anova_oneway,
    )

    df = agg_anova_oneway(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_acf_lags_are_lead_windows_no_self_join(spark):
    """All 7 lags are constant-offset LEAD columns over one global window
    on the O(span-days) series + posexplode — no self-join, no re-scan."""
    from odc_product_docker_images_spark.operators.stats_tests import agg_acf

    df = agg_acf(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_circular_mean_is_single_pass(spark):
    """Unit-vector sums are one map-side-combinable hash agg; no joins,
    no windows, single Exchange."""
    from odc_product_docker_images_spark.operators.stats_tests import (
        agg_circular_mean,
    )

    df = agg_circular_mean(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan and "Window" not in plan
    assert C.exchange_count(df) <= 1
    C.assert_no_python_row_path(df)


def test_roc_scaffold_single_shuffle_with_reuse(spark):
    """ROC/AUC share the score-grouped ``global_prefix`` scaffold: no
    cartesian, one embeddings scan (the offsets branch reads the
    persisted slices), and the only partition-less window runs on the
    per-slice offsets table, never on the scored rows."""
    from odc_product_docker_images_spark.operators.model_eval import (
        ml_auc_exact,
        ml_roc_curve,
    )

    df = ml_roc_curve(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(df)
    inputs = C.partitionless_window_inputs(df)
    assert not any(
        re.search(r"\b(score|embedding|label|cp|cn)#", i) for i in inputs
    ), inputs
    C.assert_no_python_row_path(ml_auc_exact(spark, SF))


def test_confusion_rollup_is_one_branch_unpivot(spark):
    """Row and column sums of the confusion matrix come from ONE
    aggregation over the unpivoted pair table — no second corpus branch,
    no join."""
    from odc_product_docker_images_spark.operators.model_eval import (
        ml_calibration_bins,
        ml_confusion_metrics,
    )

    df = ml_confusion_metrics(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)
    cal = ml_calibration_bins(spark, SF)
    assert C.scan_count(cal) == 1
    assert C.exchange_count(cal) <= 1
    C.assert_no_python_row_path(cal)


def test_slope_aspect_is_one_scatter_agg(spark):
    """Horn gradients are weighted contributions in the SAME single hash
    aggregate as the focal scatter — one corpus agg + one scatter
    Exchange, no join, no Python."""
    from odc_product_docker_images_spark.operators.raster import (
        raster_slope_aspect,
    )

    df = raster_slope_aspect(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_medoid_is_windows_not_self_join(spark):
    """The O(n²) per-cell self-join collapses to sorted prefix-sum
    windows over ONE cell partitioning; argmin is a same-window MIN +
    filter."""
    from odc_product_docker_images_spark.operators.raster import (
        agg_medoid_composite,
    )

    df = agg_medoid_composite(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    assert C.exchange_count(df) <= 2
    C.assert_no_python_row_path(df)


def test_winsorized_bounds_are_windows_not_joins(spark):
    """Ranks, n, and both clamp bounds all ride ONE event-type window
    partitioning; no join-back, single corpus Exchange."""
    from odc_product_docker_images_spark.operators.percentiles import (
        agg_winsorized_mean,
    )

    df = agg_winsorized_mean(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    assert C.exchange_count(df) <= 2
    C.assert_no_python_row_path(df)


def test_bottomk_hash_is_one_window_pass(spark):
    from odc_product_docker_images_spark.textvec.sampling import (
        sample_bottomk_hash,
    )

    df = sample_bottomk_hash(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    assert C.exchange_count(df) <= 1
    C.assert_no_python_row_path(df)


def test_hits_step_is_two_linear_shuffles(spark):
    """Authority agg + hub regroup over an equi-join against the
    broadcast authority table — no cartesian beyond the 1-row norm
    cross-joins, no adjacency materialization."""
    from odc_product_docker_images_spark.operators.graph import graph_hits_step

    df = graph_hits_step(spark, SF)
    plan = C.formatted_plan(df)
    # the only cartesians are the two 1-row L2-norm broadcasts
    assert plan.count("CartesianProduct") == 0
    assert "BroadcastNestedLoopJoin" in plan  # 1-row norm cross joins
    # persisted edges/indeg/hubraw: the 2-consumers-per-stage tree would
    # otherwise re-plan into 8 corpus scans (measured pre-fix)
    assert C.scan_count(df) == 1
    assert "InMemoryTableScan" in plan
    C.assert_no_python_row_path(df)


def test_readability_is_pure_map(spark):
    from odc_product_docker_images_spark.textvec.text_analysis import (
        text_readability,
    )

    df = text_readability(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert C.exchange_count(df) == 0
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_idw_is_blocked_broadcast_never_cartesian(spark):
    """Candidates meet on the 10°-cell equi-join (stations broadcast 9×);
    the interpolate is one hash agg per target."""
    from odc_product_docker_images_spark.operators.joins_spatial import (
        geo_idw_interpolate,
    )

    df = geo_idw_interpolate(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    C.assert_no_python_row_path(df)


def test_ljung_box_reuses_acf_scaffold(spark):
    """Same one-scan lead-window scaffold as agg_acf; the portmanteau
    reduction is a tiny extra aggregate — still no self-join."""
    from odc_product_docker_images_spark.operators.stats_tests import (
        agg_ljung_box,
    )

    df = agg_ljung_box(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_isotonic_pava_is_fold_local_arrow(spark):
    """One fold shuffle into applyInPandas (Arrow), nothing driver-side."""
    from odc_product_docker_images_spark.operators.model_eval import (
        ml_isotonic_pava,
    )

    df = ml_isotonic_pava(spark, SF)
    plan = C.formatted_plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert C.scan_count(df) == 1
    assert "BatchEvalPython" not in plan


def test_flow_direction_shares_one_target_clustering(spark):
    """Center lookup, drops, argmax rank and support gate all ride the
    (tx, ty) clustering from the scatter Exchange — no join-back."""
    from odc_product_docker_images_spark.operators.raster import (
        raster_flow_direction,
    )

    df = raster_flow_direction(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_hillshade_is_one_scatter_agg(spark):
    from odc_product_docker_images_spark.operators.raster import raster_hillshade

    df = raster_hillshade(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_bloom_build_is_one_bitor_agg_probe_is_broadcast(spark):
    """Bitset build = explode + bit_or hash agg; the probe side meets
    the ≤16-row bloom table on a broadcast, never a corpus shuffle."""
    from odc_product_docker_images_spark.sources.bloom import (
        table_bloom_skipping,
    )

    df = table_bloom_skipping(spark, SF)
    plan = C.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(df)


def test_label_prop_vote_rides_one_dst_window(spark):
    """Argmax + neighbor totals share one dst partitioning after the
    broadcast seed join — two linear shuffles total."""
    from odc_product_docker_images_spark.operators.graph import (
        graph_label_prop_step,
    )

    df = graph_label_prop_step(spark, SF)
    plan = C.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert C.scan_count(df) == 2  # lineitem + supplier (different tables)
    C.assert_no_python_row_path(df)


def test_moran_is_one_scatter_plus_tiny_reduction(spark):
    """The double sum is one scatter-gather; no join anywhere."""
    from odc_product_docker_images_spark.operators.raster import (
        agg_spatial_moran,
    )

    df = agg_spatial_moran(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_pmi_tokenizes_once(spark):
    """Unigram counts fall out of the bigram table — the corpus is
    tokenized exactly once (one scan), joins are broadcast."""
    from odc_product_docker_images_spark.textvec.text_analysis import (
        text_collocations_pmi,
    )

    df = text_collocations_pmi(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1  # persisted vocab-table feeds all three
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(df)


def test_abc_prefix_is_distributed_rank_pattern(spark):
    """Revenue prefix rides the range-partitioned pattern on the
    persisted parts table — no single-task global window over parts."""
    from odc_product_docker_images_spark.operators.metrics import (
        agg_abc_classification,
    )

    df = agg_abc_classification(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) <= 1
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(df)


def test_bitmap_distinct_merges_not_rescans(spark):
    """The week grain re-aggregates the persisted day bitmaps (bit_or of
    bit_or) — one corpus scan feeds both grains."""
    from odc_product_docker_images_spark.sources.bloom import (
        agg_bitmap_distinct,
    )

    df = agg_bitmap_distinct(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan
    C.assert_no_python_row_path(df)


def test_stl_lite_is_single_lineage_no_joins(spark):
    """Trend, seasonal and variance stages are all windows over the one
    day-grouped series — zero joins, one corpus scan."""
    from odc_product_docker_images_spark.operators.stats_tests import agg_stl_lite

    df = agg_stl_lite(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_rolling_corr_and_hurst_are_series_windows(spark):
    """Both keys do one corpus day-count agg; all statistics are windows
    on the O(span) series — no joins."""
    from odc_product_docker_images_spark.operators.stats_tests import (
        agg_hurst_rs,
        window_rolling_corr,
    )

    for fn in (window_rolling_corr, agg_hurst_rs):
        df = fn(spark, SF)
        plan = C.formatted_plan(df)
        assert C.scan_count(df) == 1, fn.__name__
        assert "Join" not in plan, fn.__name__
        C.assert_no_python_row_path(df)


def test_matryoshka_argmax_is_hash_agg_not_window(spark):
    """Both argmaxes are lexicographic struct-MAX hash aggregates over
    one broadcast-joined scored stream — no corpus-partition window."""
    from odc_product_docker_images_spark.textvec.similarity import (
        sim_matryoshka_prefix,
    )

    df = sim_matryoshka_prefix(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) <= 2  # corpus + broadcast query sample
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan
    C.assert_no_python_row_path(df)


def test_nb_params_broadcast_and_per_doc_argmax_small(spark):
    """Params/priors meet the scoring stream on broadcasts; the argmax
    window partitions by doc (5 rows each), never a corpus partition."""
    from odc_product_docker_images_spark.textvec.nb import ml_naive_bayes

    df = ml_naive_bayes(spark, SF)
    plan = C.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(df)


def test_footer_profile_reads_footers_in_arrow(spark):
    from odc_product_docker_images_spark.sources.formats import (
        profile_parquet_footers,
    )

    df = profile_parquet_footers(spark, SF)
    plan = C.formatted_plan(df)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_croston_is_one_shuffle_arrow_kernel(spark):
    from odc_product_docker_images_spark.kernels.holt import forecast_croston

    df = forecast_croston(spark, SF)
    plan = C.formatted_plan(df)
    assert "FlatMapGroupsInArrow" in plan  # r12 applyInArrow kernel
    assert C.scan_count(df) == 1
    assert "BatchEvalPython" not in plan


def test_price_index_pivots_periods_without_self_join(spark):
    """Base and current year meet in a conditional pivot on one part
    aggregate — no period self-join; the year filter reaches the scan."""
    from odc_product_docker_images_spark.operators.metrics import (
        agg_price_index,
    )

    df = agg_price_index(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    assert "l_shipdate" in C.pushed_filters(df) or "PushedFilters" in plan
    C.assert_no_python_row_path(df)


def test_ks_fdr_ecdf_is_group_parallel(spark):
    """Per-group ECDFs ride (event_type)-partitioned windows; D reduces
    per group; the p-value/BH machinery runs on the m-row test table."""
    from odc_product_docker_images_spark.operators.stats_tests import (
        agg_ks_by_group_fdr,
    )

    df = agg_ks_by_group_fdr(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_cmh_is_one_conditional_agg(spark):
    from odc_product_docker_images_spark.operators.stats_tests import agg_cmh_test

    df = agg_cmh_test(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_checksum_is_one_pass_no_sort(spark):
    """The fingerprint is a map-side-combinable XOR fold — one scan, one
    Exchange, no Sort anywhere."""
    from odc_product_docker_images_spark.sources.bloom import (
        table_content_checksum,
    )

    df = table_content_checksum(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Sort" not in plan and "Join" not in plan
    assert C.exchange_count(df) <= 1
    C.assert_no_python_row_path(df)


def test_kruskal_rides_value_scaffold(spark):
    """Per-value totals + global cumulative share the value clustering;
    the H reduction runs on groups-row tables."""
    from odc_product_docker_images_spark.operators.stats_tests import (
        agg_kruskal_wallis,
    )

    df = agg_kruskal_wallis(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) <= 2  # main + offsets (exchange-shared subtree)
    assert "InMemoryTableScan" in plan  # persisted vstats feeds both sums
    C.assert_no_python_row_path(df)


def test_spearman_ranks_on_user_aggregate(spark):
    from odc_product_docker_images_spark.operators.stats_tests import (
        agg_spearman_corr,
    )

    df = agg_spearman_corr(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_stump_scores_all_splits_in_one_scan(spark):
    """All n-1 candidate splits score off the shared ECDF scaffold in
    one projection; the winner is a limit-1 TakeOrdered."""
    from odc_product_docker_images_spark.operators.model_eval import (
        agg_cohens_kappa,
        ml_decision_stump,
    )

    df = ml_decision_stump(spark, SF)
    plan = C.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(df)
    kap = agg_cohens_kappa(spark, SF)
    assert C.scan_count(kap) == 1
    assert "Join" not in C.formatted_plan(kap)
    C.assert_no_python_row_path(kap)


def test_lorenz_rides_distributed_rank(spark):
    from odc_product_docker_images_spark.operators.metrics import (
        agg_lorenz_points,
    )

    df = agg_lorenz_points(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) <= 1
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(df)


def test_compression_ratio_is_arrow_map(spark):
    from odc_product_docker_images_spark.textvec.curation import (
        text_compression_ratio,
    )

    df = text_compression_ratio(spark, SF)
    plan = C.formatted_plan(df)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert C.exchange_count(df) == 0


def test_wilcoxon_and_cronbach_shapes(spark):
    """Wilcoxon: one conditional per-user agg + users-table windows;
    Cronbach: one sufficient-stats pass, 1-row algebra."""
    from odc_product_docker_images_spark.operators.model_eval import (
        agg_cronbach_alpha,
    )
    from odc_product_docker_images_spark.operators.stats_tests import (
        agg_wilcoxon_signed_rank,
    )

    w = agg_wilcoxon_signed_rank(spark, SF)
    assert C.scan_count(w) <= 2  # halves + tie-weight branch on tiny table
    assert "CartesianProduct" not in C.formatted_plan(w)
    C.assert_no_python_row_path(w)
    a = agg_cronbach_alpha(spark, SF)
    assert C.scan_count(a) == 1
    assert "Join" not in C.formatted_plan(a)
    C.assert_no_python_row_path(a)


def test_platt_step_is_one_moment_pass(spark):
    from odc_product_docker_images_spark.operators.model_eval import (
        ml_platt_scaling_step,
    )

    df = ml_platt_scaling_step(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_kcore_step_filters_on_broadcast_alive_set(spark):
    from odc_product_docker_images_spark.operators.graph import graph_kcore_step

    df = graph_kcore_step(spark, SF)
    plan = C.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # <=2: exact count depends on which graph-module persists the shared
    # session already holds (CacheManager dedups identical edge plans);
    # the load-bearing property is bounded scans, not 2^k replan blowup
    assert C.scan_count(df) <= 2
    C.assert_no_python_row_path(df)


def test_tost_and_bp_shapes(spark):
    """TOST: one sufficient-stats pass.  BP: two passes by design (fit
    broadcasts back for residual moments) — no corpus join."""
    from odc_product_docker_images_spark.operators.stats_tests import (
        agg_breusch_pagan,
        agg_tost_equivalence,
    )

    t = agg_tost_equivalence(spark, SF)
    assert C.scan_count(t) == 1
    assert "Join" not in C.formatted_plan(t)
    C.assert_no_python_row_path(t)
    bp = agg_breusch_pagan(spark, SF)
    plan = C.formatted_plan(bp)
    assert C.scan_count(bp) == 2  # fit pass + residual pass (documented)
    assert "BroadcastNestedLoopJoin" in plan  # 1-row fit broadcast
    C.assert_no_python_row_path(bp)


def test_runs_and_theil_shapes(spark):
    from odc_product_docker_images_spark.operators.metrics import agg_theil_index
    from odc_product_docker_images_spark.operators.stats_tests import agg_runs_test

    r = agg_runs_test(spark, SF)
    assert C.scan_count(r) == 1
    assert "Join" not in C.formatted_plan(r)
    C.assert_no_python_row_path(r)
    t = agg_theil_index(spark, SF)
    plan = C.formatted_plan(t)
    assert C.scan_count(t) <= 2  # orders + customer dims
    assert "InMemoryTableScan" in plan  # persisted per-customer table
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(t)


def test_hill_and_js_shapes(spark):
    """Hill: top-(k+1) TakeOrdered, never a global sort.  JS: one
    token-count pass, vocab-table reductions."""
    from odc_product_docker_images_spark.operators.metrics import agg_hill_tail
    from odc_product_docker_images_spark.textvec.text_analysis import (
        text_js_divergence,
    )

    h = agg_hill_tail(spark, SF)
    plan = C.formatted_plan(h)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(h)
    j = text_js_divergence(spark, SF)
    assert C.scan_count(j) == 1
    assert "Join" not in C.formatted_plan(j)
    C.assert_no_python_row_path(j)


def test_burstiness_and_overdispersion_shapes(spark):
    from odc_product_docker_images_spark.operators.stats_tests import (
        agg_overdispersion,
    )
    from odc_product_docker_images_spark.textvec.text_analysis import (
        text_burstiness,
    )

    b = text_burstiness(spark, SF)
    plan = C.formatted_plan(b)
    assert C.scan_count(b) <= 2  # counts + 1-row doc total branch
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(b)
    o = agg_overdispersion(spark, SF)
    assert C.scan_count(o) == 1
    assert "Join" not in C.formatted_plan(o)
    C.assert_no_python_row_path(o)


def test_iptw_and_delong_shapes(spark):
    from odc_product_docker_images_spark.operators.metrics import agg_iptw_ate
    from odc_product_docker_images_spark.operators.model_eval import (
        ml_auc_delong_se,
    )

    i = agg_iptw_ate(spark, SF)
    plan = C.formatted_plan(i)
    assert C.scan_count(i) == 2  # users pass + 1-row mean broadcast
    assert "BroadcastNestedLoopJoin" in plan
    C.assert_no_python_row_path(i)
    d = ml_auc_delong_se(spark, SF)
    assert C.scan_count(d) <= 2  # ECDF scaffold (exchange-shared)
    assert "CartesianProduct" not in C.formatted_plan(d)
    C.assert_no_python_row_path(d)


def test_mattr_is_codegen_arrays_and_sprt_is_prefix_scaffold(spark):
    from odc_product_docker_images_spark.operators.stats_tests import (
        agg_sprt_decision,
    )
    from odc_product_docker_images_spark.textvec.text_analysis import text_mattr

    m = text_mattr(spark, SF)
    plan = C.formatted_plan(m)
    assert C.scan_count(m) == 1
    assert C.exchange_count(m) == 0
    assert "Join" not in plan
    C.assert_no_python_row_path(m)
    s = agg_sprt_decision(spark, SF)
    splan = C.formatted_plan(s)
    assert C.scan_count(s) <= 2  # prefix scaffold (exchange-shared)
    assert "CartesianProduct" not in splan
    C.assert_no_python_row_path(s)


def test_adf_and_assortativity_shapes(spark):
    from odc_product_docker_images_spark.operators.graph import (
        graph_assortativity,
    )
    from odc_product_docker_images_spark.operators.stats_tests import agg_adf_test

    a = agg_adf_test(spark, SF)
    assert C.scan_count(a) == 1
    assert "Join" not in C.formatted_plan(a)
    C.assert_no_python_row_path(a)
    g = graph_assortativity(spark, SF)
    plan = C.formatted_plan(g)
    assert C.scan_count(g) <= 2  # cache-state-dependent (see kcore note)
    assert "BroadcastHashJoin" in plan
    C.assert_no_python_row_path(g)


def test_biproj_and_new_returning_shapes(spark):
    from odc_product_docker_images_spark.operators.graph import (
        join_bipartite_projection,
    )
    from odc_product_docker_images_spark.operators.metrics import (
        agg_new_vs_returning,
    )

    p = join_bipartite_projection(spark, SF)
    plan = C.formatted_plan(p)
    assert "CartesianProduct" not in plan
    assert C.scan_count(p) <= 2  # self-join sides of the distinct table
    # hub cap: the per-part degree window + filter sit UNDER the pairing
    # self-join (the d²/2 fan-out guard) — both self-join inputs are capped
    assert "Window" in plan
    assert plan.count("pdeg") >= 2  # window output filtered on each side
    # _BIPROJ_HUB_CAP predicate survives into the plan — match the actual
    # filter fragment, not a bare "64" (which partition counts / decimal
    # widths satisfy vacuously)
    import re as _re

    assert _re.search(r"pdeg[^\n]*<= 64", plan), "hub-cap predicate missing"
    C.assert_no_python_row_path(p)
    nv = agg_new_vs_returning(spark, SF)
    nplan = C.formatted_plan(nv)
    assert C.scan_count(nv) == 1
    assert "Join" not in nplan  # first-day is a window, not a join-back
    C.assert_no_python_row_path(nv)


def test_q10_and_entropy_shapes(spark):
    from odc_product_docker_images_spark.operators.composites_tpch import (
        composite_q10_shape,
    )
    from odc_product_docker_images_spark.operators.metrics import (
        agg_entropy_by_group,
    )

    q = composite_q10_shape(spark, SF)
    plan = C.formatted_plan(q)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "l_returnflag" in C.pushed_filters(q)
    C.assert_no_python_row_path(q)
    e = agg_entropy_by_group(spark, SF)
    assert C.scan_count(e) == 1
    assert "Join" not in C.formatted_plan(e)
    # two linear shuffles: (user,type) count then user re-cluster
    assert C.exchange_count(e) <= 2
    C.assert_no_python_row_path(e)


def test_capture_and_gamma_are_single_pass(spark):
    from odc_product_docker_images_spark.operators.metrics import (
        agg_capture_recapture,
        agg_gamma_mom,
    )

    for fn in (agg_capture_recapture, agg_gamma_mom):
        df = fn(spark, SF)
        assert C.scan_count(df) == 1, fn.__name__
        assert "Join" not in C.formatted_plan(df), fn.__name__
        C.assert_no_python_row_path(df)


def test_ndcg_rankings_are_panel_windows(spark):
    from odc_product_docker_images_spark.operators.model_eval import ml_ndcg_at_k

    df = ml_ndcg_at_k(spark, SF)
    plan = C.formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(df)


def test_ormh_and_decay_shapes(spark):
    from odc_product_docker_images_spark.operators.metrics import (
        agg_cohort_decay_fit,
    )
    from odc_product_docker_images_spark.operators.stats_tests import (
        agg_odds_ratio_mh,
    )

    o = agg_odds_ratio_mh(spark, SF)
    assert C.scan_count(o) == 1
    assert "Join" not in C.formatted_plan(o)
    C.assert_no_python_row_path(o)
    d = agg_cohort_decay_fit(spark, SF)
    plan = C.formatted_plan(d)
    assert C.scan_count(d) <= 2  # activity pass + 1-row base broadcast
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(d)


def test_recall_at_k_shares_panel_shape(spark):
    from odc_product_docker_images_spark.operators.model_eval import (
        ml_recall_at_k,
    )

    df = ml_recall_at_k(spark, SF)
    plan = C.formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(df)


def test_winnowing_is_local_window_stack(spark):
    """Selection decides locally from lag/lead columns on one per-doc
    ordering — no window materialization, no join."""
    from odc_product_docker_images_spark.textvec.lines import text_winnowing

    df = text_winnowing(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_interevent_and_apdex_shapes(spark):
    from odc_product_docker_images_spark.operators.metrics import agg_apdex_daily
    from odc_product_docker_images_spark.operators.stats_tests import (
        agg_interevent_burstiness,
    )

    b = agg_interevent_burstiness(spark, SF)
    assert C.scan_count(b) == 1
    assert "Join" not in C.formatted_plan(b)
    C.assert_no_python_row_path(b)
    a = agg_apdex_daily(spark, SF)
    assert C.scan_count(a) == 1
    assert C.exchange_count(a) <= 1
    C.assert_no_python_row_path(a)


def test_gumbel_and_records_shapes(spark):
    from odc_product_docker_images_spark.operators.stats_tests import (
        agg_gumbel_fit,
        window_record_highs,
    )

    for fn in (agg_gumbel_fit, window_record_highs):
        df = fn(spark, SF)
        assert C.scan_count(df) == 1, fn.__name__
        assert "Join" not in C.formatted_plan(df), fn.__name__
        C.assert_no_python_row_path(df)


def test_srm_and_mix_drift_shapes(spark):
    from odc_product_docker_images_spark.operators.stats_tests import (
        agg_srm_check,
        window_mix_drift,
    )

    for fn in (agg_srm_check, window_mix_drift):
        df = fn(spark, SF)
        assert C.scan_count(df) == 1, fn.__name__
        assert "Join" not in C.formatted_plan(df), fn.__name__
        C.assert_no_python_row_path(df)


def test_pagerank_loop_shape(spark):
    """Unrolled-K iterative loop: per-iteration persist (InMemoryRelation
    truncates each iteration's lineage), no Cartesian blow-up, and every
    parquet scan is the write-once edge artifact — executed edge passes
    are 2 (nodes union) + 1 (outdeg) + K (per-iteration contrib join),
    each inside a cached-once subtree."""
    from odc_product_docker_images_spark.operators.graph import (
        _PR_ITERS,
        graph_pagerank_loop,
    )

    df = graph_pagerank_loop(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # per-iteration persist in effect
    assert C.scan_count(df) <= 3 + _PR_ITERS
    assert "lineitem" not in plan  # only the .tmp edge artifact is scanned
    C.assert_no_python_row_path(df)


def test_r8_loop_shapes(spark):
    """Unrolled iterative loops: per-iteration persist visible as
    InMemoryTableScan, no Cartesian blow-up, no Python row path, and the
    corpus-side scan counts stay at the per-iteration contract (Lloyd
    re-reads vectors per round; the graph loops read only the write-once
    edge artifact)."""
    from odc_product_docker_images_spark.operators.graph import (
        graph_kcore_loop,
        graph_label_prop_loop,
    )
    from odc_product_docker_images_spark.textvec.kmeans import sim_kmeans_loop

    for fn, max_scans in (
        (graph_kcore_loop, 6),
        (graph_label_prop_loop, 5),
        (sim_kmeans_loop, 8),
    ):
        df = fn(spark, SF)
        plan = C.formatted_plan(df)
        assert "CartesianProduct" not in plan, fn.__name__
        assert "InMemoryTableScan" in plan, fn.__name__
        assert C.scan_count(df) <= max_scans, fn.__name__
        C.assert_no_python_row_path(df)
    # the graph loops scan only the .tmp edge artifact, never lineitem
    for fn in (graph_kcore_loop, graph_label_prop_loop):
        assert "lineitem" not in C.formatted_plan(fn(spark, SF)), fn.__name__


def test_bfs_loop_shape(spark):
    """Unrolled BFS loop: per-frontier + per-ledger persist
    (InMemoryTableScan), static scans bounded by the artifact touches
    (2 und-union sides + 1 seed scan), only the .tmp edge artifact ever
    scanned, anti-joins never Cartesian."""
    from odc_product_docker_images_spark.operators.graph import graph_bfs_loop

    df = graph_bfs_loop(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan
    assert C.scan_count(df) <= 3
    assert "lineitem" not in plan  # only the write-once edge artifact
    C.assert_no_python_row_path(df)


def test_lm_trigram_two_touch_contract(spark):
    """The corpus (documents) is scanned exactly twice — fit + score —
    and every count between is a window/agg over model tables."""
    from odc_product_docker_images_spark.textvec.lm_bigram import text_lm_trigram

    df = text_lm_trigram(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) <= 2
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # persisted type tables
    # r9: under the corpus-size gate the type-bounded model BROADCASTS in
    # the scoring join — the corpus-side trigram shuffle (the measured
    # 10x growth axis) must be gone
    assert "BroadcastHashJoin" in plan
    C.assert_no_python_row_path(df)


def test_ann_recall_gate_shape(spark):
    """Truth persists once (three consumers), hit counts ride broadcast
    1-row joins, nothing Cartesian."""
    from odc_product_docker_images_spark.textvec.similarity import sim_ann_recall

    df = sim_ann_recall(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan
    # r9 sampled-slice audit: the Knuth gate must reach the truth kernel
    assert "2654435761" in plan


def test_ivf_pq_funnel_and_hits_loop_shapes(spark):
    """Funnel: no Cartesian beyond the broadcast-literal crosses, codes
    path broadcast-joined (never a corpus×corpus join).  HITS loop:
    per-stage persist, edge-artifact-only scans."""
    from odc_product_docker_images_spark.operators.graph import graph_hits_loop
    from odc_product_docker_images_spark.textvec.pq import sim_ivf_pq_funnel

    f = sim_ivf_pq_funnel(spark, SF)
    fplan = C.formatted_plan(f)
    assert "CartesianProduct" not in fplan
    assert "BroadcastHashJoin" in fplan  # probe/qtab/candidate joins
    C.assert_no_python_row_path(f)
    h = graph_hits_loop(spark, SF)
    hplan = C.formatted_plan(h)
    assert "CartesianProduct" not in hplan
    assert "InMemoryTableScan" in hplan  # ar persists inside each round
    assert "lineitem" not in hplan  # write-once edge artifact only
    # r9: the round-final hr takes a lazy localCheckpoint, truncating the
    # lineage once per round — the r8 all-persist form nested
    # InMemoryRelations until the print hit 140k lines / 22k Exchange
    # mentions and defeated the PLANS.md audit.  Pin auditability.
    assert "ExistingRDD" in hplan  # the checkpoint boundary is visible
    assert len(hplan.splitlines()) < 1000, "hits-loop plan print re-inflated"
    C.assert_no_python_row_path(h)


def test_ml_loop_shapes(spark):
    """ML loops: per-round persist, corpus scans bounded at one per
    round (inherent for power iteration / Newton), no Cartesian beyond
    the 1-row broadcast crosses, no Python row path."""
    from odc_product_docker_images_spark.operators.model_eval import (
        ml_platt_scaling_loop,
    )
    from odc_product_docker_images_spark.textvec.kmeans import ml_pca_power_loop

    for fn, max_scans in ((ml_pca_power_loop, 3), (ml_platt_scaling_loop, 3)):
        df = fn(spark, SF)
        plan = C.formatted_plan(df)
        assert "CartesianProduct" not in plan, fn.__name__
        assert "InMemoryTableScan" in plan, fn.__name__
        assert C.scan_count(df) <= max_scans, fn.__name__
        C.assert_no_python_row_path(df)


def test_gmm_loop_shape(spark):
    from odc_product_docker_images_spark.operators.metrics import ml_gmm_em_loop

    df = ml_gmm_em_loop(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # 1-row param state persisted
    assert C.scan_count(df) <= 3  # one corpus pass per EM round
    C.assert_no_python_row_path(df)


def test_minhash_recall_gate_shape(spark):
    from odc_product_docker_images_spark.textvec.dedup import dedup_minhash_recall

    df = dedup_minhash_recall(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # persisted truth + shared slice build
    # r9 sampled-slice audit: the Knuth gate must reach the plan (both the
    # truth kernel and the candidate run read the sliced build)
    assert "2654435761" in plan
    C.assert_no_python_row_path(df)


def test_sketch_gates_shape(spark):
    from odc_product_docker_images_spark.textvec.heavyhitters import (
        sketch_error_gates,
    )

    df = sketch_error_gates(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # persisted exact-count/summary tables
    C.assert_no_python_row_path(df)


def test_stats_diag_keys_single_scan_no_branch_duplication(spark):
    """The r9c diagnostics tier expresses every per-group/global statistic
    as WINDOWS over one aggregated series (the CLAUDE.md branch-duplication
    rule): each key must read events exactly once, with the bounded
    exchange budget of its agg→window chain and zero join machinery."""
    from odc_product_docker_images_spark.operators.stats_diag import (
        agg_ccf_lags,
        agg_cooks_distance,
        agg_durbin_watson,
        agg_jarque_bera,
        agg_levene_bf,
        agg_periodogram,
    )

    for fn, max_exch in [
        (agg_jarque_bera, 1),
        (agg_durbin_watson, 2),
        (agg_levene_bf, 2),
        (agg_ccf_lags, 2),
        (agg_periodogram, 2),
        (agg_cooks_distance, 2),
    ]:
        df = fn(spark, SF)
        plan = C.formatted_plan(df)
        assert C.scan_count(df) == 1, fn.__name__
        assert C.exchange_count(df) <= max_exch, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
        assert "Join" not in plan, fn.__name__
        C.assert_no_python_row_path(df)


def test_pr_auc_reuses_roc_scaffold_shape(spark):
    """ml_pr_auc rides the _scored_groups distributed-prefix scaffold:
    the offsets table must come back as a BROADCAST join (never a shuffle
    join on the bucket key) over the two-scan shared subtree."""
    from odc_product_docker_images_spark.operators.model_eval import ml_pr_auc

    df = ml_pr_auc(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) <= 2
    assert plan.count("BroadcastHashJoin ") == 1
    assert "SortMergeJoin" not in plan
    C.assert_no_python_row_path(df)


def test_brier_mcnemar_single_pass_shapes(spark):
    from odc_product_docker_images_spark.operators.model_eval import (
        ml_brier_decomposition,
        ml_mcnemar_test,
    )

    for fn in (ml_brier_decomposition, ml_mcnemar_test):
        df = fn(spark, SF)
        plan = C.formatted_plan(df)
        assert C.scan_count(df) == 1, fn.__name__
        assert "Join" not in plan, fn.__name__
        C.assert_no_python_row_path(df)


def test_binary_quantize_funnel_shape(spark):
    """The 1-bit funnel: the query side must BROADCAST into the Hamming
    scan (a BroadcastNestedLoopJoin on the != predicate — never a
    CartesianProduct), the rerank joins must be broadcast hash joins on
    the Q·K-bounded survivors, and the whole key stays in codegen (no
    Python path, no sort-merge machinery)."""
    from odc_product_docker_images_spark.textvec.quantize import (
        sim_binary_quantize,
    )

    df = sim_binary_quantize(spark, SF)
    plan = C.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") >= 1
    assert plan.count("BroadcastHashJoin ") >= 2
    assert "SortMergeJoin" not in plan
    assert C.scan_count(df) <= 4
    # the packing is pure codegen: xor/bit_count never leave the JVM
    C.assert_no_python_row_path(df)


def test_r9c_tier2_single_scan_shapes(spark):
    """Tier-2 diagnostics: every key reads its corpus table exactly once.
    The seasonal-MK pairwise self-join must ride the PERSISTED day table
    (InMemoryTableScan — one corpus scan feeding both join sides), and
    nothing in the tier needs join machinery beyond it."""
    from odc_product_docker_images_spark.operators.stats_diag import (
        agg_friedman_test,
        agg_grubbs_outlier,
        agg_pacf,
        agg_seasonal_mann_kendall,
        agg_two_proportion_ztest,
        window_bollinger,
    )
    from odc_product_docker_images_spark.textvec.text_analysis import (
        text_fertility_stats,
    )

    df = agg_seasonal_mann_kendall(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "InMemoryTableScan" in plan  # persisted day table, both sides
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(df)
    for fn, max_exch in [
        (agg_pacf, 2),
        (agg_grubbs_outlier, 1),
        (agg_friedman_test, 2),
        (window_bollinger, 2),
        (agg_two_proportion_ztest, 1),
        (text_fertility_stats, 1),
    ]:
        df = fn(spark, SF)
        plan = C.formatted_plan(df)
        assert C.scan_count(df) == 1, fn.__name__
        assert C.exchange_count(df) <= max_exch, fn.__name__
        assert "Join" not in plan, fn.__name__
        C.assert_no_python_row_path(df)


def test_r9c_tier3_shapes(spark):
    """Batch-3: ml_ks_statistic rides the _scored_groups scaffold (one
    broadcast join, ≤2 scans); the three stats keys are single-scan
    window chains with no join machinery beyond countDistinct's
    partials."""
    from odc_product_docker_images_spark.operators.model_eval import (
        ml_ks_statistic,
    )
    from odc_product_docker_images_spark.operators.stats_diag import (
        agg_changepoint_binseg,
        agg_partial_corr,
        window_rsi,
    )

    df = ml_ks_statistic(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) <= 2
    assert plan.count("BroadcastHashJoin ") == 1
    assert "SortMergeJoin" not in plan
    C.assert_no_python_row_path(df)
    for fn in (agg_partial_corr, window_rsi, agg_changepoint_binseg):
        df = fn(spark, SF)
        plan = C.formatted_plan(df)
        assert C.scan_count(df) == 1, fn.__name__
        assert "Join" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
        C.assert_no_python_row_path(df)


def test_r10_quality_gate_shapes(spark):
    """r10 gate keys: each audits a rows-only kernel with a bounded
    broadcast panel and linear passes — no sort-merge join, no cartesian,
    no row-path Python.  sketch_quantile_gate: the 12-row quantile panel
    broadcasts back over the base scan (<=2 scans, exactly 1 BHJ);
    geomedian_objective_gate: windowed stats on ONE l_suppkey
    partitioning + the G-row geomedian panel broadcast (no stats-join
    branch); isotonic_fit_gate: one pass over the fit output — no join
    at all."""
    from odc_product_docker_images_spark.kernels.geomedian import (
        geomedian_objective_gate,
    )
    from odc_product_docker_images_spark.operators.model_eval import (
        isotonic_fit_gate,
    )
    from odc_product_docker_images_spark.operators.percentiles import (
        sketch_quantile_gate,
    )

    df = sketch_quantile_gate(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) <= 2
    assert plan.count("BroadcastHashJoin ") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(df)

    df = geomedian_objective_gate(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) <= 2
    assert plan.count("BroadcastHashJoin ") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(df)

    df = isotonic_fit_gate(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)


def test_r11_quality_gate_shapes(spark):
    """r11 gate keys: jpeg_decode_gate is one Arrow map pass over one
    scan (the decode key's own shape); compression_gate is two Arrow
    passes over the documents scan closed by ONE equi-join;
    scalar_map_gate is an events self-equi-join of pure codegen'd
    expressions (from_json/get_json_object are JVM-side — no Python
    stage at all); catalog_gate is a 10-branch union of count-star scans
    broadcast-joined to the 10-row local catalog."""
    from odc_product_docker_images_spark.functions.scalars import scalar_map_gate
    from odc_product_docker_images_spark.multimodal.jpeg import jpeg_decode_gate
    from odc_product_docker_images_spark.operators.composites import catalog_gate
    from odc_product_docker_images_spark.textvec.curation import compression_gate

    df = jpeg_decode_gate(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 1
    assert "Join" not in plan
    C.assert_no_python_row_path(df)

    df = compression_gate(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 2
    assert "CartesianProduct" not in plan
    C.assert_no_python_row_path(df)

    df = scalar_map_gate(spark, SF)
    plan = C.formatted_plan(df)
    assert C.scan_count(df) == 2
    assert "CartesianProduct" not in plan
    assert "Python" not in plan  # whole gate stays in codegen
    C.assert_no_python_row_path(df)

    df = catalog_gate(spark, SF)
    plan = C.formatted_plan(df)
    assert plan.count("BroadcastHashJoin ") == 1
    assert "CartesianProduct" not in plan
    # (the 10-row local catalog frame scans as a Python-sourced RDD —
    # fixed-size metadata, not a per-row Python stage over data)
    C.assert_no_python_row_path(df)


def test_embedding_drift_shuffles_bins_not_vectors(spark):
    """Embedding drift (r11): quantize + explode stay map-side in the scan
    stage; the 16-bin hash-agg is the only corpus shuffle; the bin spine
    broadcasts; no SMJ, no Python."""
    from odc_product_docker_images_spark.operators.drift import (
        profile_embedding_drift,
    )

    df = profile_embedding_drift(spark, SF)
    assert C.scan_count(df) == 1
    C.assert_no_python_row_path(df)
    plan = C.formatted_plan(df)
    assert "SortMergeJoin " not in plan
    assert "CartesianProduct" not in plan


def test_shard_manifest_keeps_shard_pack_plan_shape(spark):
    """Shard manifest (r11): same distributed-prefix-sum shape as
    shard_pack — the per-partition offset table joins back as a
    BROADCAST, never a corpus-wide SMJ; no global single-task corpus
    window (the only unpartitioned window is over the ≤32-row offsets
    table); no Python."""
    from odc_product_docker_images_spark.textvec.curation import (
        shard_manifest_checksum,
        shard_pack,
    )

    df = shard_manifest_checksum(spark, SF)
    C.assert_broadcast_join(df)
    C.assert_no_python_row_path(df)
    plan = C.formatted_plan(df)
    assert "SortMergeJoin " not in plan
    assert "CartesianProduct" not in plan
    # plan shape matches the established shard_pack pattern: equal
    # exchange counts (the checksum folds into the SAME per-shard agg)
    assert C.exchange_count(df) == C.exchange_count(shard_pack(spark, SF))


def test_geomedian_solves_size_from_host(spark):
    """The geomedian solves' one Exchange has max(fanout, rows/250k)
    partitions: every Python task pays a fixed start-up cost, so the count
    follows the host's width and a data-derived memory cap, never a
    literal floor."""
    from odc_product_docker_images_spark.io import fanout, table_rows
    from odc_product_docker_images_spark.kernels.geomad import agg_geomedian_mads
    from odc_product_docker_images_spark.kernels.geomedian import agg_geomedian

    want = max(fanout(spark), -(-table_rows(SF, "lineitem") // 250_000))
    for build in (agg_geomedian, agg_geomedian_mads):
        df = build(spark, SF)
        assert C.exchange_count(df) == 1
        counts = re.findall(r"hashpartitioning\(l_suppkey#\d+L?, (\d+)\)", C.formatted_plan(df))
        assert counts and {int(n) for n in counts} == {want}, (build.__name__, counts, want)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="3.12+ re-reads zips lazily; no guard")
def test_python_workers_run_under_pyworker(spark):
    """Python tasks run in workers forked from the engine's daemon, which
    guards zipimporter.invalidate_caches (no per-task zip re-reads)."""

    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(4, numPartitions=2).mapInPandas(probe, "m string").collect()
    assert {r.m for r in rows} == {"odc_product_docker_images_spark.pyworker"}


# The benchmark's EO product chain and curation mix (perfbench/workloads.py).
_BENCH_KEYS = [
    "scan_pushdown", "product_ndvi_anomaly", "product_water_permanency",
    "udf_wofs_summary", "agg_median", "agg_percentile_composite",
    "agg_geomedian", "window_rolling", "join_asof", "source_tile_scan_tiff",
    "sink_geotiff_tiled",
    "text_quality", "text_repetition", "explode_tokens", "dedup_exact_hash",
    "dedup_minhash", "sim_topk_cosine", "sim_ann_lsh", "shard_pack",
]
# Keys whose DataFrame is built on a Spark action, each with its reason.
_EAGER_OK = {
    "sink_geotiff_tiled": "writes its encoded scene store, the sink under test",
}


@pytest.mark.parametrize("key", [k for k in _BENCH_KEYS if k not in _EAGER_OK])
def test_warm_plan_starts_no_job(spark, key):
    """Building a benchmark key's DataFrame on a warm session is planning
    only: schemas come from the io memo, manifests or declared DDL, never
    from a footer-inference job."""
    from odc_product_docker_images_spark import registry

    fn = registry.all_queries()[key].fn
    fn(spark, SF)  # warm: first-use artifacts and schema inference
    sc = spark.sparkContext
    group = f"plan-{key}"
    sc.setJobGroup(group, f"build {key}")
    try:
        fn(spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the status store
    assert sc.statusTracker().getJobIdsForGroup(group) == [], key
