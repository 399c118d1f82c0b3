"""Driver-contract lint: the registry's query and oracle maps and the
grading window the driver sees.

The per-key check that every output column is a hashable scalar (array,
map and struct cells break the driver's canonicalizer) lives in
``test_parity.py::test_query_parity``, which already builds every key's
frame.
"""

from __future__ import annotations

import pytest

from odc_product_docker_images_spark import registry


def test_oracle_keys_subset_of_queries(spark):
    qs = registry.queries()
    os_ = registry.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(isinstance(v, str) and v.strip() for v in os_.values())


def test_unregistered_window_key_raises(monkeypatch):
    """A GRADING_WINDOW key that no module registers is an error that
    names it, never a key silently missing from the driver's map."""
    monkeypatch.setattr(
        registry, "GRADING_WINDOW", [*registry.GRADING_WINDOW, "no_such_key"]
    )
    with pytest.raises(KeyError, match="no_such_key"):
        registry.all_queries()


def test_grading_window_holds_showcase_surface():
    """The driver grades ~the first 50 registration-order keys.  Pin that
    the curated window keeps the whole showcase surface (kernels,
    streaming, the LLM text/vector families) in front — a module reorder
    or an eager import that scrambles registration order would silently
    push them out of the hard gate."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    # A fresh process is what the driver actually sees: in-process test
    # ordering can import operator modules directly and scramble
    # registration order long before this test runs.
    code = (
        "import sys, json; sys.path.insert(0, %r);"
        "import __spark_entry__ as ent;"
        "print(json.dumps(list(ent.queries())[:50]))"
        % str(Path(__file__).resolve().parent.parent)
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    window = json.loads(out.stdout.strip().splitlines()[-1])
    # GRADING_WINDOW in registry.py is the source of truth; this pins that
    # its registered members actually surface in the first 50 of a FRESH
    # process.
    from odc_product_docker_images_spark import registry as reg

    registered = set(reg.all_queries())
    must_be_graded = {k for k in reg.GRADING_WINDOW if k in registered}
    assert len(must_be_graded) <= 50, "grading window overflows the 50-key gate"
    missing = must_be_graded - set(window)
    assert not missing, f"showcase keys fell out of the grading window: {missing}"
    # LITERAL composition pin (not derived from GRADING_WINDOW, which would
    # be tautological): the full r11 window, so a registry edit can't
    # silently drop a slot or re-submit an already-graded key.  r11 =
    # flagship + the 4 new gate keys + the 45 oldest never-driver-graded
    # full-oracle keys (VERDICT r10 tasks #1/#5).
    literal_pin = {
        "agg_multi_stat",  # flagship, every round
        # new r11 oracle-pinned quality gates (new keys always enter)
        "jpeg_decode_gate", "compression_gate", "scalar_map_gate",
        "catalog_gate",
        # rest of the displaced-r9 cohort (oldest debt — 10 keys)
        "table_bloom_skipping", "graph_label_prop_step",
        "agg_spatial_moran", "text_collocations_pmi",
        "agg_abc_classification", "agg_bitmap_distinct", "agg_stl_lite",
        "window_rolling_corr", "agg_hurst_rs", "sim_matryoshka_prefix",
        # r6d tail, defer-list order (first 35)
        "ml_naive_bayes", "profile_parquet_footers", "forecast_croston",
        "agg_price_index", "agg_ks_by_group_fdr", "agg_cmh_test",
        "table_content_checksum", "agg_kruskal_wallis",
        "agg_spearman_corr", "ml_decision_stump", "agg_cohens_kappa",
        "agg_lorenz_points", "agg_wilcoxon_signed_rank",
        "agg_cronbach_alpha", "ml_platt_scaling_step", "graph_kcore_step",
        "agg_tost_equivalence", "agg_breusch_pagan", "agg_runs_test",
        "agg_theil_index", "agg_hill_tail", "text_js_divergence",
        "text_burstiness", "agg_overdispersion", "agg_iptw_ate",
        "ml_auc_delong_se", "text_mattr", "agg_sprt_decision",
        "agg_adf_test", "graph_assortativity", "agg_new_vs_returning",
        "composite_q10_shape", "agg_entropy_by_group",
        "agg_capture_recapture", "ml_ndcg_at_k",
    }
    missing_literal = literal_pin - set(window)
    assert not missing_literal, f"r11 pin violated: {missing_literal}"
    # No already-graded key (other than the flagship and this round's
    # declared re-grades) occupies a slot — the r7 failure mode was
    # burning the grading budget on re-confirms.  "Already graded" means
    # graded in a round STRICTLY BEFORE the round this window was composed
    # for: the r8 version of this guard globbed every CORRECTNESS_r*.json
    # including the current round's own deposit, so it went red the moment
    # the driver graded the window it was validating (VERDICT r8 #1).
    import glob
    import re

    graded: set[str] = set()
    root = Path(__file__).resolve().parent.parent
    for f in glob.glob(str(root / "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", f)
        if m and int(m.group(1)) >= reg.WINDOW_ROUND:
            continue  # the window's own grade (or later) is not "stale"
        graded |= set(json.load(open(f)))
    allowed = {"agg_multi_stat"} | set(reg.WINDOW_REGRADES)
    stale = (set(window) & graded) - allowed
    assert not stale, f"window wastes slots on already-graded keys: {stale}"


def test_entry_does_not_scramble_registration_order():
    """entry() must resolve through the registry: importing an operator
    module directly would register ITS keys first, scrambling the curated
    order whenever the driver calls entry() before queries()."""
    import importlib

    import __spark_entry__ as ent
    from odc_product_docker_images_spark import registry as reg

    before = list(reg.all_queries())
    src = open(ent.__file__).read()
    assert "from odc_product_docker_images_spark.operators" not in src
    assert list(reg.all_queries()) == before


def test_bench_summary_line_is_small_parseable_json():
    """The driver tail-captures bench.py's LAST stdout line — BENCH_r06
    overflowed it with per-key detail and parsed as null.  Pin the
    contract: one json.loads-able line with the required keys, float
    section totals (even for empty sections), and a bounded size."""
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import bench

    line = bench.summary_line(
        12.3456,
        {"q1": 1.5, "q2": 2.25},
        {"r5": {"a": 1.0, "b": 0.5}, "r8": {}},
        0.1,
    )
    assert "\n" not in line
    d = json.loads(line)
    assert d["metric"] == "headline_suite_wall"
    assert d["unit"] == "sec"
    assert d["value"] == 12.346
    assert d["queries"] == {"q1": 1.5, "q2": 2.25}
    assert d["sf"] == 0.1
    assert isinstance(d["sections_sec"]["r8"], float)  # empty section
    assert d["sections_sec"] == {"r5": 1.5, "r8": 0.0}
    # stays far under any sane tail-capture window even with the real
    # headline key set (~25 keys at ~30 chars each)
    assert len(line) < 4096


def test_dataframe_debugging_is_off(spark):
    """get_spark builds sessions with DataFrame debugging off, and prep
    turns it off on a session built elsewhere, even after PySpark has
    cached the flag as on (its conf is static there)."""
    from pyspark.errors import utils

    from odc_product_docker_images_spark.session import prep

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    utils._enable_debugging_cache = True
    prep(spark)
    assert not utils.is_debugging_enabled()
