"""Round-5d operator tests: exact substring-span dedup and temperature
mixture reweighting, each against an independent pure-Python reference."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def test_substring_spans_match_independent_python(spark):
    """Recompute the Lee-style exact-substring ledger with plain Python
    dicts (token tuples as keys — no hashing, so an md5-plumbing bug on
    the Spark side cannot hide) and require identical per-doc numbers."""
    from odc_product_docker_images_spark.textvec.substrings import (
        _W,
        dedup_substring_spans,
    )

    docs = pq.read_table(f"{SF}/documents.parquet").to_pandas()
    occ: dict[tuple, int] = {}
    per_doc: dict[int, list[int]] = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        toks = text.split(" ")
        for i in range(len(toks) - _W + 1):
            occ[tuple(toks[i : i + _W])] = occ.get(tuple(toks[i : i + _W]), 0) + 1

    expected = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        toks = text.split(" ")
        dup_pos = [
            i + 1
            for i in range(len(toks) - _W + 1)
            if occ[tuple(toks[i : i + _W])] >= 2
        ]
        if not dup_pos:
            continue
        spans = []
        start = prev = dup_pos[0]
        for p in dup_pos[1:]:
            if p - prev <= _W - 1:
                prev = p
            else:
                spans.append((start, prev))
                start = prev = p
        spans.append((start, prev))
        covered = sum(e - s + _W for s, e in spans)
        expected[doc_id] = (
            len(toks),
            len(dup_pos),
            len(spans),
            covered,
            covered / len(toks),
        )

    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["dup_windows"],
            r["dup_spans"],
            r["dup_tokens"],
            r["dup_frac"],
        )
        for r in dedup_substring_spans(spark, SF).collect()
    }
    assert got.keys() == expected.keys()
    for k, exp in expected.items():
        assert got[k][:4] == exp[:4], (k, got[k], exp)
        assert got[k][4] == pytest.approx(exp[4], abs=1e-12)
    assert len(expected) > 10  # the fixture must exercise the path


def test_temperature_mixing_matches_independent_numpy(spark):
    """Recompute p ∝ n^α, budgeted rates, and the hash-gated kept counts
    with plain numpy/Python; mixture probabilities must sum to 1."""
    from odc_product_docker_images_spark.textvec.mixing import (
        _ALPHA,
        _BUDGET,
        data_mix_temperature,
    )
    from odc_product_docker_images_spark.textvec.pipeline import _KNUTH

    docs = pq.read_table(f"{SF}/documents.parquet").to_pandas()
    counts = docs.groupby("lang").size()  # genuinely non-uniform (source is flat)
    w = counts.to_numpy(np.float64) ** _ALPHA
    p = w / w.sum()
    n_corpus = counts.sum()
    rate = np.minimum(1.0, _BUDGET * n_corpus * p / counts.to_numpy(np.float64))
    rate_by_lang = dict(zip(counts.index, rate))
    kept = {
        s: int(
            sum(
                1
                for d in docs[docs["lang"] == s]["doc_id"]
                if (d * _KNUTH) % 100 < rate_by_lang[s] * 100.0
            )
        )
        for s in counts.index
    }

    rows = {r["lang"]: r for r in data_mix_temperature(spark, SF).collect()}
    assert set(rows) == set(counts.index)
    assert sum(r["p_sample"] for r in rows.values()) == pytest.approx(1.0, abs=1e-9)
    for i, s in enumerate(counts.index):
        r = rows[s]
        assert r["n_docs"] == counts[s]
        assert r["weight"] == pytest.approx(w[i], abs=1e-5)
        assert r["p_sample"] == pytest.approx(p[i], abs=1e-6)
        assert r["keep_rate"] == pytest.approx(rate[i], abs=1e-6)
        assert r["n_kept"] == kept[s]
    # the temperature property must actually hold: alpha < 1 upweights
    # the tail, so the smallest language keeps a HIGHER rate than the largest
    smallest = counts.idxmin()
    largest = counts.idxmax()
    assert counts[smallest] < counts[largest]  # the fixture is non-uniform
    assert rows[smallest]["keep_rate"] > rows[largest]["keep_rate"]
    total_kept = sum(r["n_kept"] for r in rows.values())
    assert 0 < total_kept < n_corpus


def test_seasonal_zscore_matches_independent_numpy(spark):
    """Recompute per-(series, month) climatology z-scores with plain
    numpy (unrounded mean/std) and require matching anomaly counts and
    peak picks on a sample of series."""
    from odc_product_docker_images_spark.operators.changepoint import (
        window_seasonal_zscore,
    )

    ev = pq.read_table(f"{SF}/events.parquet").to_pandas()
    ev["sec"] = ev["ts"].astype("datetime64[s]").astype("int64")
    ev["month"] = ev["ts"].dt.month
    got = {r["user_id"]: r for r in window_seasonal_zscore(spark, SF).collect()}

    rng = np.random.default_rng(5)
    for uid in rng.choice(sorted(got), size=20, replace=False):
        s = ev[ev["user_id"] == uid].sort_values(["sec", "event_id"]).copy()
        g = s.groupby("month")["value"]
        mu = g.transform("mean")
        sd = g.transform("std")  # sample std, ddof=1
        n = g.transform("size")
        ok = (n >= 2) & (sd > 0)
        z = ((s["value"] - mu) / sd)[ok]
        sub = s[ok]
        r = got[uid]
        assert r["n_scored"] == int(ok.sum())
        assert r["n_anomalies"] == int((z.abs() >= 2.0 - 1e-9).sum())
        k = int(np.argmax(z.abs().to_numpy()))
        assert r["peak_event_id"] == sub["event_id"].iloc[k]
        assert r["peak_month"] == sub["month"].iloc[k]
        assert r["peak_z"] == pytest.approx(z.iloc[k], abs=1e-3)


def test_image_resize_matches_independent_loop(spark):
    """Recompute the 2x box downsample with an explicit per-pixel Python
    loop over the decoded raster (no numpy slicing tricks shared with the
    kernel) and require identical resized stats."""
    from odc_product_docker_images_spark.multimodal.columns import (
        _decode_bmp,
        _pack_bmp,
    )
    from odc_product_docker_images_spark.multimodal.resize import (
        _DH,
        _DW,
        multimodal_image_resize,
    )

    got = {r["doc_id"]: r for r in multimodal_image_resize(spark, SF).collect()}
    assert len(got) == 500
    for doc_id in list(got)[:5]:
        w, h, bpp, px = _decode_bmp(_pack_bmp(int(doc_id)))
        assert (w, h, bpp) == (31, 16, 24)
        def b(x, y, ch):
            return px[(y * w + x) * 3 + ch]
        flat = []
        for y in range(_DH):
            for x in range(_DW):
                for ch in range(3):
                    s = (
                        b(2 * x, 2 * y, ch) + b(2 * x + 1, 2 * y, ch)
                        + b(2 * x, 2 * y + 1, ch) + b(2 * x + 1, 2 * y + 1, ch)
                    )
                    flat.append(s // 4)
        r = got[doc_id]
        assert (r["dst_w"], r["dst_h"]) == (_DW, _DH)
        assert r["px_sum"] == sum(flat)
        assert r["pos_weighted_sum"] == sum((i + 1) * v for i, v in enumerate(flat))
        assert r["max_px"] == max(flat)


def test_ohlc_matches_independent_pandas(spark):
    """Recompute hourly bars with pandas groupby first/last/min/max and
    require identical values (open/close are raw stored doubles)."""
    from odc_product_docker_images_spark.operators.resample import (
        _BUCKET_S,
        agg_resample_ohlc,
    )

    ev = pq.read_table(f"{SF}/events.parquet").to_pandas()
    ev["sec"] = ev["ts"].astype("datetime64[s]").astype("int64")
    ev["bucket"] = ev["sec"] // _BUCKET_S
    ev = ev.sort_values(["sec", "event_id"])
    g = ev.groupby(["user_id", "bucket"])["value"]
    exp = g.agg(["first", "max", "min", "last", "count", "mean"])

    got = {
        (r["user_id"], r["bucket"]): r for r in agg_resample_ohlc(spark, SF).collect()
    }
    assert len(got) == len(exp)
    for (uid, bkt), row in exp.iterrows():
        r = got[(uid, bkt)]
        assert r["open"] == row["first"] and r["close"] == row["last"]
        assert r["high"] == row["max"] and r["low"] == row["min"]
        assert r["n_obs"] == row["count"]
        assert r["mean_value"] == pytest.approx(row["mean"], abs=1e-5)


def test_drift_psi_matches_independent_numpy(spark):
    """Recompute PSI/KS with plain numpy histograms; the full bin spine
    must appear (empty bins with zero counts), probabilities must sum to
    1, and the KS statistic must match the running-CDF gap max."""
    from odc_product_docker_images_spark.operators.drift import (
        _BW,
        _NBINS,
        profile_drift_psi,
    )

    ev = pq.read_table(f"{SF}/events.parquet").to_pandas()
    bins = np.clip((ev["value"].to_numpy() // _BW).astype(int), 0, _NBINS - 1)
    ref = np.bincount(bins[ev["user_id"] % 2 == 0], minlength=_NBINS)
    cand = np.bincount(bins[ev["user_id"] % 2 == 1], minlength=_NBINS)
    p = (ref + 0.5) / (ref.sum() + 5.0)
    q = (cand + 0.5) / (cand.sum() + 5.0)
    psi = ((p - q) * np.log(p / q)).sum()
    ks = np.abs(np.cumsum(p) - np.cumsum(q)).max()

    rows = sorted(profile_drift_psi(spark, SF).collect(), key=lambda r: r["bin"])
    assert [r["bin"] for r in rows] == list(range(_NBINS))  # full spine
    assert [r["n_ref"] for r in rows] == ref.tolist()
    assert [r["n_cand"] for r in rows] == cand.tolist()
    assert sum(r["p_ref"] for r in rows) == pytest.approx(1.0, abs=1e-9)
    assert sum(r["psi_contrib"] for r in rows) == pytest.approx(psi, abs=1e-4)
    assert max(r["cdf_gap"] for r in rows) == pytest.approx(ks, abs=1e-6)
    assert all(r["psi_contrib"] >= 0 for r in rows)  # PSI terms are nonneg


def test_funnel_matches_independent_pandas(spark):
    """Recompute the strictly-ordered funnel per user with a plain Python
    scan over the sorted events and require identical step times."""
    from odc_product_docker_images_spark.operators.funnel import agg_funnel_steps

    ev = pq.read_table(f"{SF}/events.parquet").to_pandas()
    ev["sec"] = ev["ts"].astype("datetime64[s]").astype("int64")
    got = {r["user_id"]: r for r in agg_funnel_steps(spark, SF).collect()}
    assert len(got) == ev["user_id"].nunique()

    for uid, g in ev.groupby("user_id"):
        t1 = g.loc[g["event_type"] == "view", "sec"].min()
        t1 = None if np.isnan(t1) else int(t1)
        t2 = t3 = None
        if t1 is not None:
            c = g.loc[(g["event_type"] == "click") & (g["sec"] > t1), "sec"].min()
            t2 = None if np.isnan(c) else int(c)
        if t2 is not None:
            pch = g.loc[(g["event_type"] == "purchase") & (g["sec"] > t2), "sec"].min()
            t3 = None if np.isnan(pch) else int(pch)
        r = got[uid]
        assert (r["t_view"], r["t_click"], r["t_purchase"]) == (t1, t2, t3)
        assert r["stage"] == sum(t is not None for t in (t1, t2, t3))
    # the fixture must exercise partial funnels as well as full ones
    stages = {r["stage"] for r in got.values()}
    assert 3 in stages


def test_retention_cohort_matches_independent_pandas(spark):
    """Recompute the cohort matrix with pandas; retention must be the
    exact integer ratio and offset-0 retention exactly 1.0."""
    from odc_product_docker_images_spark.operators.funnel import (
        _WEEK,
        agg_retention_cohort,
    )

    ev = pq.read_table(f"{SF}/events.parquet").to_pandas()
    ev["week"] = ev["ts"].astype("datetime64[s]").astype("int64") // _WEEK
    first = ev.groupby("user_id")["week"].min().rename("cohort")
    j = ev.join(first, on="user_id")
    j["off"] = j["week"] - j["cohort"]
    cells = j.drop_duplicates(["user_id", "cohort", "off"])
    exp = cells.groupby(["cohort", "off"]).size()
    cohort_sizes = first.value_counts()

    rows = agg_retention_cohort(spark, SF).collect()
    assert len(rows) == len(exp)
    for r in rows:
        assert r["n_active"] == exp[(r["cohort_week"], r["week_offset"])]
        assert r["n_cohort"] == cohort_sizes[r["cohort_week"]]
        assert r["retention"] == r["n_active"] / r["n_cohort"]
        if r["week_offset"] == 0:
            assert r["retention"] == 1.0


def test_unpivot_is_exact_fanout(spark):
    """Every kept input row must fan out to exactly 4 band rows with the
    raw stored values."""
    from odc_product_docker_images_spark.operators.projections import (
        proj_unpivot_bands,
    )

    lf = pq.read_table(f"{SF}/lineitem.parquet").to_pandas()
    kept = lf[lf["l_orderkey"] % 7 == 0]
    df = proj_unpivot_bands(spark, SF)
    assert df.count() == 4 * len(kept)
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic fixture
    # (45,832 distinct pairs of 60,000 rows), so compare the MULTISET of
    # (band, value) rows for one key pair against pandas
    one = kept.iloc[0]
    sub = kept[
        (kept["l_orderkey"] == one["l_orderkey"])
        & (kept["l_linenumber"] == one["l_linenumber"])
    ]
    got_rows = sorted(
        (r["band"], r["value"])
        for r in df.where(
            (F.col("l_orderkey") == int(one["l_orderkey"]))
            & (F.col("l_linenumber") == int(one["l_linenumber"]))
        ).collect()
    )
    exp_rows = sorted(
        (band, row[src])
        for _, row in sub.iterrows()
        for band, src in [
            ("quantity", "l_quantity"),
            ("extendedprice", "l_extendedprice"),
            ("discount", "l_discount"),
            ("tax", "l_tax"),
        ]
    )
    assert got_rows == exp_rows


def test_mmr_matches_independent_greedy(spark):
    """Recompute the MMR trajectory with a plain numpy greedy loop
    (unrounded cosines) and require the same picks in the same order;
    the diversified list must also genuinely diversify (its mean
    pairwise similarity stays below the top-K-by-relevance baseline)."""
    from odc_product_docker_images_spark.textvec.mmr import (
        _K,
        _LAM,
        _N,
        _PROBE,
        sim_mmr_rerank,
    )
    from test_r5b_ops import _load_embeddings

    ids, M = _load_embeddings()
    N = M / np.linalg.norm(M, axis=1, keepdims=True)
    qi = int(np.where(ids == _PROBE)[0][0])
    rel = N @ N[qi]
    order = [
        i for i in np.lexsort((ids, -rel)) if ids[i] != _PROBE
    ][:_N]
    cand = list(order)
    picked = []
    for _ in range(_K):
        best, best_score = None, None
        for i in cand:
            if picked:
                maxsim = max(float(N[i] @ N[j]) for j in picked)
            else:
                maxsim = 0.0
            score = _LAM * rel[i] - (1 - _LAM) * maxsim
            if best_score is None or score > best_score + 1e-12 or (
                abs(score - best_score) <= 1e-12 and ids[i] < ids[best]
            ):
                best, best_score = i, score
        picked.append(best)
        cand.remove(best)

    rows = sorted(sim_mmr_rerank(spark, SF).collect(), key=lambda r: r["rank"])
    assert [r["vec_id"] for r in rows] == [int(ids[i]) for i in picked]
    for r, i in zip(rows, picked):
        assert r["rel"] == pytest.approx(rel[i], abs=1e-5)

    # diversity property vs the relevance-only top-K
    topk = order[:_K]
    def mean_pairsim(sel):
        sims = [float(N[i] @ N[j]) for ai, i in enumerate(sel) for j in sel[ai + 1:]]
        return sum(sims) / len(sims)
    assert mean_pairsim(picked) < mean_pairsim(topk)


def test_fixed_width_lines_have_constant_width(spark):
    """Every emitted line must be exactly 86 bytes (20+20+20+26) — the
    fixed-width contract itself (int64-proof widths since the r11 100x
    slice caught the 8-char user_id field silently truncating 9-digit
    replica ids) — and one sampled line must parse back to its source
    row byte-for-byte."""
    import glob

    from odc_product_docker_images_spark import scratch
    from odc_product_docker_images_spark.sources.formats import source_fixed_width_roundtrip

    before = set(glob.glob(str(scratch.ROOT / "fw_*")))
    source_fixed_width_roundtrip(spark, SF).collect()
    new = sorted(set(glob.glob(str(scratch.ROOT / "fw_*"))) - before)
    assert new
    lines = []
    for f in glob.glob(new[-1] + "/*.txt"):
        with open(f) as fh:
            lines += [ln.rstrip("\n") for ln in fh]
    assert lines and all(len(ln) == 86 for ln in lines)
    ev = pq.read_table(f"{SF}/events.parquet").to_pandas()
    ev = ev[ev["event_id"] % 5 == 0]
    ln = lines[0]
    eid = int(ln[0:20])
    row = ev[ev["event_id"] == eid].iloc[0]
    assert int(ln[20:40]) == row["user_id"]
    assert float(ln[60:86].strip()) == row["value"]


def test_subtree_rollup_matches_independent_python(spark):
    """Recompute the ancestor closure with an explicit parent-chain walk
    (k -> k//10 -> ... -> 0) and require identical subtree counts and
    price sums."""
    from odc_product_docker_images_spark.operators.hierarchy import (
        graph_subtree_rollup,
    )

    pt = pq.read_table(f"{SF}/part.parquet").to_pandas()
    exp_n: dict[int, int] = {}
    exp_s: dict[int, float] = {}
    for k, price in zip(pt["p_partkey"], pt["p_retailprice"]):
        node, seen = int(k), set()
        while True:
            if node not in seen:
                seen.add(node)
                if node < 100:
                    exp_n[node] = exp_n.get(node, 0) + 1
                    exp_s[node] = exp_s.get(node, 0.0) + price
            if node == 0:
                break
            node //= 10
    got = {r["ancestor"]: r for r in graph_subtree_rollup(spark, SF).collect()}
    assert got.keys() == exp_n.keys()
    for a, n in exp_n.items():
        assert got[a]["n_subtree"] == n
        assert got[a]["subtree_price"] == pytest.approx(exp_s[a], abs=1e-3)
    # the root subtree covers every part exactly once
    assert got[0]["n_subtree"] == len(pt)


def test_gini_matches_independent_numpy(spark):
    """Recompute per-group Gini with a numpy sort (unrounded) and check
    the bounds/ordering properties a broken rank offset would violate."""
    from odc_product_docker_images_spark.operators.aggregates import agg_gini

    lf = pq.read_table(f"{SF}/lineitem.parquet").to_pandas()
    rows = {r["l_returnflag"]: r for r in agg_gini(spark, SF).collect()}
    assert set(rows) == set(lf["l_returnflag"].unique())
    for flag, g in lf.groupby("l_returnflag"):
        x = np.sort(g["l_extendedprice"].to_numpy(np.float64))
        n = len(x)
        gini = 2.0 * (np.arange(1, n + 1) * x).sum() / (n * x.sum()) - (n + 1) / n
        r = rows[flag]
        assert r["n"] == n
        # the 2^-30 scaling rounds each addend at the decimal path's
        # 10 dp (6 significant digits at this magnitude) — deterministic
        # but ~5e-7 relative vs the unrounded pandas sum
        assert r["sum_price_scaled"] == pytest.approx(x.sum(), rel=2e-6)
        assert r["gini"] == pytest.approx(gini, abs=1e-6)
        assert 0.0 < r["gini"] < 1.0
