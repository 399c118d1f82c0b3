"""Query-key registry — the driver contract's backing store.

Every operator from SURVEY.md §2 registers here with a callable
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) a DuckDB oracle
string.  ``__spark_entry__.py`` re-exports ``queries()`` / ``oracle_sql()``
from this module.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    key: str
    fn: QueryFn
    oracle: str | None
    doc: str


_REGISTRY: dict[str, Query] = {}

# Modules that register queries on import.  Since r5 the driver-facing
# order is set by GRADING_WINDOW below (all_queries() yields window keys
# first), so module order here only decides the tail order — keep it
# stable anyway, and keep __spark_entry__ import-hygienic (a direct
# operator-module import still reorders the non-window tail).
_MODULES = [
    "odc_product_docker_images_spark.streaming.batch_forms",
    "odc_product_docker_images_spark.operators.composites",
    "odc_product_docker_images_spark.kernels.geomedian",
    "odc_product_docker_images_spark.textvec.dedup_pairs",
    "odc_product_docker_images_spark.textvec.perplexity",
    "odc_product_docker_images_spark.textvec.retrieval",
    "odc_product_docker_images_spark.operators.joins_skew",
    "odc_product_docker_images_spark.operators.scans",
    "odc_product_docker_images_spark.multimodal.columns",
    "odc_product_docker_images_spark.sources.incremental",
    "odc_product_docker_images_spark.operators.products",
    "odc_product_docker_images_spark.operators.virtual",
    "odc_product_docker_images_spark.operators.aggregates",
    # -- window cutoff lands ~11 keys into aggregates (module-internal
    # decorator order puts agg_approx_percentile + the flagship first).
    "odc_product_docker_images_spark.operators.windows",
    "odc_product_docker_images_spark.kernels.wofs",
    "odc_product_docker_images_spark.kernels.frac_cover",
    "odc_product_docker_images_spark.kernels.udfs",
    "odc_product_docker_images_spark.textvec.dedup",
    "odc_product_docker_images_spark.textvec.similarity",
    "odc_product_docker_images_spark.textvec.text_analysis",
    "odc_product_docker_images_spark.textvec.pipeline",
    "odc_product_docker_images_spark.textvec.curation",
    "odc_product_docker_images_spark.textvec.similarity_ivf",
    "odc_product_docker_images_spark.textvec.quantize",
    "odc_product_docker_images_spark.operators.projections",
    "odc_product_docker_images_spark.operators.joins",
    "odc_product_docker_images_spark.operators.setops",
    "odc_product_docker_images_spark.functions.scalars",
    "odc_product_docker_images_spark.sources.versioned",
    "odc_product_docker_images_spark.sources.bucketed",
    "odc_product_docker_images_spark.streaming.stream_joins",
    "odc_product_docker_images_spark.operators.zonal",
    "odc_product_docker_images_spark.operators.profile",
    "odc_product_docker_images_spark.textvec.bpe",
    "odc_product_docker_images_spark.textvec.kmeans",
    "odc_product_docker_images_spark.operators.graph",
    "odc_product_docker_images_spark.kernels.geomad",
    "odc_product_docker_images_spark.operators.raster",
    "odc_product_docker_images_spark.textvec.lines",
    "odc_product_docker_images_spark.textvec.sampling",
    "odc_product_docker_images_spark.operators.joins_spatial",
    "odc_product_docker_images_spark.operators.composites_tpch",
    "odc_product_docker_images_spark.multimodal.png",
    "odc_product_docker_images_spark.textvec.heavyhitters",
    "odc_product_docker_images_spark.operators.percentiles",
    "odc_product_docker_images_spark.textvec.pq",
    "odc_product_docker_images_spark.operators.products2",
    "odc_product_docker_images_spark.operators.windows_gaps",
    "odc_product_docker_images_spark.sources.formats",
    "odc_product_docker_images_spark.sources.stream_source",
    "odc_product_docker_images_spark.operators.sql_frontend",
    "odc_product_docker_images_spark.streaming.session_timeout",
    "odc_product_docker_images_spark.operators.pyramid",
    "odc_product_docker_images_spark.multimodal.geotiff",
    "odc_product_docker_images_spark.multimodal.jpeg",
    "odc_product_docker_images_spark.operators.trend",
    "odc_product_docker_images_spark.textvec.semantic",
    "odc_product_docker_images_spark.textvec.lr_filter",
    "odc_product_docker_images_spark.operators.changepoint",
    "odc_product_docker_images_spark.operators.joins_polygon",
    "odc_product_docker_images_spark.operators.reproject_inverse",
    "odc_product_docker_images_spark.textvec.substrings",
    "odc_product_docker_images_spark.textvec.mixing",
    "odc_product_docker_images_spark.multimodal.resize",
    "odc_product_docker_images_spark.operators.resample",
    "odc_product_docker_images_spark.operators.drift",
    "odc_product_docker_images_spark.operators.funnel",
    "odc_product_docker_images_spark.textvec.mmr",
    "odc_product_docker_images_spark.operators.hierarchy",
    "odc_product_docker_images_spark.operators.runtime_filters",
    "odc_product_docker_images_spark.operators.metrics",
    "odc_product_docker_images_spark.operators.scd",
    "odc_product_docker_images_spark.textvec.lm_bigram",
    "odc_product_docker_images_spark.operators.assoc",
    "odc_product_docker_images_spark.operators.attribution",
    "odc_product_docker_images_spark.operators.survival",
    "odc_product_docker_images_spark.streaming.cdc_apply",
    "odc_product_docker_images_spark.kernels.holt",
    "odc_product_docker_images_spark.operators.behavior",
    "odc_product_docker_images_spark.textvec.urls",
    "odc_product_docker_images_spark.multimodal.tar_shards",
    "odc_product_docker_images_spark.multimodal.safetensors",
    "odc_product_docker_images_spark.operators.stats_tests",
    "odc_product_docker_images_spark.operators.stats_diag",
    "odc_product_docker_images_spark.operators.model_eval",
    "odc_product_docker_images_spark.sources.bloom",
    "odc_product_docker_images_spark.textvec.nb",
]

# The driver grades about the first 50 keys in ``queries()`` dict order:
# ``all_queries()`` yields GRADING_WINDOW's keys first, in this order, then
# every other key in registration order (pinned in
# tests/test_driver_contract.py).  The stale-window guard there counts a key
# as already graded only from CORRECTNESS_r*.json files of rounds before
# WINDOW_ROUND, and lets WINDOW_REGRADES back in.
WINDOW_ROUND = 11
WINDOW_REGRADES: set[str] = set()
GRADING_WINDOW = [
    "agg_multi_stat",
    "jpeg_decode_gate", "compression_gate", "scalar_map_gate",
    "catalog_gate",
    "table_bloom_skipping", "graph_label_prop_step", "agg_spatial_moran",
    "text_collocations_pmi", "agg_abc_classification",
    "agg_bitmap_distinct", "agg_stl_lite", "window_rolling_corr",
    "agg_hurst_rs", "sim_matryoshka_prefix",
    "ml_naive_bayes", "profile_parquet_footers", "forecast_croston",
    "agg_price_index", "agg_ks_by_group_fdr", "agg_cmh_test",
    "table_content_checksum", "agg_kruskal_wallis", "agg_spearman_corr",
    "ml_decision_stump", "agg_cohens_kappa", "agg_lorenz_points",
    "agg_wilcoxon_signed_rank", "agg_cronbach_alpha",
    "ml_platt_scaling_step", "graph_kcore_step", "agg_tost_equivalence",
    "agg_breusch_pagan", "agg_runs_test", "agg_theil_index",
    "agg_hill_tail", "text_js_divergence", "text_burstiness",
    "agg_overdispersion", "agg_iptw_ate", "ml_auc_delong_se",
    "text_mattr", "agg_sprt_decision", "agg_adf_test",
    "graph_assortativity", "agg_new_vs_returning", "composite_q10_shape",
    "agg_entropy_by_group", "agg_capture_recapture", "ml_ndcg_at_k",
]

_loaded = False


def register(key: str, oracle: str | None = None, doc: str = "") -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query-key implementation (+ optional oracle)."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in _REGISTRY:
            raise ValueError(f"duplicate query key {key!r}")
        _REGISTRY[key] = Query(key, fn, oracle, doc or (fn.__doc__ or "").strip())
        return fn

    return deco


def _ensure_loaded() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _MODULES:
        try:
            importlib.import_module(mod)
        except ImportError as e:
            e.add_note(f"while loading registry module {mod}")
            raise
    _loaded = True


def all_queries() -> dict[str, Query]:
    _ensure_loaded()
    out: dict[str, Query] = {}
    for key in GRADING_WINDOW:
        if key not in _REGISTRY:
            raise KeyError(f"GRADING_WINDOW key {key!r} is registered by no module")
        out[key] = _REGISTRY[key]
    for key, q in _REGISTRY.items():
        if key not in out:
            out[key] = q
    return out


def queries() -> dict[str, QueryFn]:
    return {k: q.fn for k, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {k: q.oracle for k, q in all_queries().items() if q.oracle is not None}
