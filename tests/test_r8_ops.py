"""Round-8 operator tests — independent semantic checks beside the
DuckDB parity gate (the test_r6c/r6d convention): each key is validated
against a different algorithm (numpy/stdlib reference implementations
over the raw fixture) rather than the SQL oracle's relational form."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

SF = "/root/testdata/sf0.01"
DAMP = 0.85


def test_pagerank_loop_matches_numpy_power_iteration(spark):
    """Three unrolled iterations must track a plain numpy power iteration
    (uniform start, dangling redistribution) — the per-iteration decimal
    6 dp rounds bound the drift at ~K·1e-6 per node mass."""
    from odc_product_docker_images_spark.operators.graph import (
        _PR_ITERS,
        graph_pagerank_loop,
    )

    got = {
        r["node_id"]: r["pr"] for r in graph_pagerank_loop(spark, SF).collect()
    }
    li = pq.read_table(
        f"{SF}/lineitem.parquet", columns=["l_suppkey", "l_partkey"]
    ).to_pandas()
    edges = sorted({(s, p + 10_000_000) for s, p in zip(li.l_suppkey, li.l_partkey)})
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    outdeg = np.zeros(n)
    for u, _ in edges:
        outdeg[idx[u]] += 1
    m = np.ones(n)  # unit-mass form: m = N * pr
    for _ in range(_PR_ITERS):
        contrib = np.zeros(n)
        for u, v in edges:
            contrib[idx[v]] += m[idx[u]] / outdeg[idx[u]]
        dangling = m[outdeg == 0].sum()
        m = 0.15 + DAMP * (contrib + dangling / n)
    expect = m / n
    assert set(got) == set(nodes)
    diff = max(abs(got[v] - expect[idx[v]]) for v in nodes)
    assert diff < 1e-7  # 6 dp rounds on O(1) masses, divided by n
    # dangling redistribution conserves total mass: sum(pr) == 1
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_pagerank_loop_converges_toward_fixed_point(spark):
    """The K-step vector must be strictly closer to the true fixed point
    than the 1-step vector — the loop genuinely iterates rather than
    re-emitting the first step."""
    from odc_product_docker_images_spark.operators.graph import (
        graph_pagerank_loop,
        graph_pagerank_step,
    )

    loop = {
        r["node_id"]: r["pr"] for r in graph_pagerank_loop(spark, SF).collect()
    }
    step = {
        r["node_id"]: r["pr"] for r in graph_pagerank_step(spark, SF).collect()
    }
    li = pq.read_table(
        f"{SF}/lineitem.parquet", columns=["l_suppkey", "l_partkey"]
    ).to_pandas()
    edges = sorted({(s, p + 10_000_000) for s, p in zip(li.l_suppkey, li.l_partkey)})
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    outdeg = np.zeros(n)
    for u, _ in edges:
        outdeg[idx[u]] += 1
    m = np.ones(n)
    for _ in range(200):  # effectively the fixed point
        contrib = np.zeros(n)
        for u, v in edges:
            contrib[idx[v]] += m[idx[u]] / outdeg[idx[u]]
        m = 0.15 + DAMP * (contrib + m[outdeg == 0].sum() / n)
    fixed = m / n
    err_loop = max(abs(loop[v] - fixed[idx[v]]) for v in nodes)
    err_step = max(abs(step[v] - fixed[idx[v]]) for v in nodes)
    assert err_loop < err_step


def test_ann_recall_gate_matches_recomputed_recall(spark):
    """The gate's booleans must equal a recomputed recall-vs-floor check,
    and the fixture recalls must actually clear their floors."""
    from odc_product_docker_images_spark.textvec.dedup import dedup_embedding
    from odc_product_docker_images_spark.textvec.similarity import (
        sim_ann_lsh,
        sim_ann_recall,
    )
    from odc_product_docker_images_spark.textvec.similarity_ivf import sim_ann_ivf

    from odc_product_docker_images_spark.textvec.similarity import (
        _AUDIT_KNUTH,
        _AUDIT_PCT,
    )

    rows = {r["method"]: r for r in sim_ann_recall(spark, SF).collect()}
    assert set(rows) == {"lsh", "ivf"}
    # r9: truth is the sampled-slice audit — recompute the slice
    # independently from the FULL exact pair set
    exact_full = {
        (r.vec_a, r.vec_b) for r in dedup_embedding(spark, SF).toPandas().itertuples()
    }
    in_slice = lambda v: (v * _AUDIT_KNUTH) % 100 < _AUDIT_PCT  # noqa: E731
    exact = {(a, b) for a, b in exact_full if in_slice(a) and in_slice(b)}
    assert exact and exact < exact_full  # slice is non-trivial both ways
    for method, fn in [("lsh", sim_ann_lsh), ("ivf", sim_ann_ivf)]:
        got = {(r.vec_a, r.vec_b) for r in fn(spark, SF).toPandas().itertuples()}
        recall = len(exact & got) / len(exact)
        r = rows[method]
        assert r["n_true"] == len(exact)
        assert r["floor_met"] == (recall * 100 >= r["floor_pct"]), method
        assert r["floor_met"], f"{method} recall {recall:.2f} under floor"


def test_tiff_tile_source_matches_synthetic_and_blob_spec(spark):
    """The TIFF-backed source must reproduce the synthetic source's
    pipeline output exactly, and each blob must be an independently
    decodable spec-correct GeoTIFF carrying the writer's geo tags."""
    from pathlib import Path

    from odc_product_docker_images_spark.multimodal.geotiff import (
        _SCALE,
        _TIEPOINT,
        _decode_tiff,
    )
    from odc_product_docker_images_spark.operators.scans import (
        source_tile_scan,
        source_tile_scan_tiff,
    )
    from odc_product_docker_images_spark.sources.tile_source import (
        _tile_band_raster,
        ensure_tiff_tiles,
    )

    tiff = {
        (r["cell_y"], r["cell_x"]): (r["mean_ndvi"], r["n_px"])
        for r in source_tile_scan_tiff(spark, SF).collect()
    }
    synth = {
        (r["cell_y"], r["cell_x"]): (r["mean_ndvi"], r["n_px"])
        for r in source_tile_scan(spark, SF).collect()
    }
    assert tiff == synth and len(tiff) == 64

    blob_dir = Path(ensure_tiff_tiles())
    payload = (blob_dir / "tile_2_3_nir.tif").read_bytes()
    assert payload[:4] == b"II\x2a\x00"  # little-endian classic TIFF magic
    w, h, raster, ps, tp, _gk = _decode_tiff(payload)
    assert (w, h) == (32, 32)
    assert (raster == _tile_band_raster(2, 3, 32, "nir")).all()
    assert tuple(ps) == _SCALE and tuple(tp) == _TIEPOINT


def _edges_und():
    li = pq.read_table(
        f"{SF}/lineitem.parquet", columns=["l_suppkey", "l_partkey"]
    ).to_pandas()
    edges = sorted({(s, p + 10_000_000) for s, p in zip(li.l_suppkey, li.l_partkey)})
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    return edges, adj


def test_kcore_loop_matches_python_peel(spark):
    """Three median-k peels recomputed imperatively must agree on the
    survivor set, the threshold, and every induced degree."""
    from odc_product_docker_images_spark.operators.graph import (
        _KCORE_PEELS,
        graph_kcore_loop,
    )

    got = {r["node_id"]: (r["deg"], r["k"]) for r in graph_kcore_loop(spark, SF).collect()}
    _, adj = _edges_und()
    degs = sorted((len(vs), u) for u, vs in adj.items())
    k = degs[(len(degs) + 1) // 2 - 1][0]  # lower median, (d, u)-ordered
    alive = set(adj)
    dd = {u: len(adj[u]) for u in alive}
    for _ in range(_KCORE_PEELS - 1):
        alive = {u for u in alive if dd[u] >= k}
        dd = {u: sum(1 for v in adj[u] if v in alive) for u in alive}
    expect = {u: (d, k) for u, d in dd.items() if d >= k}
    assert got == expect and got  # non-vacuous: the peel removed nodes
    assert len(got) < len(adj)


def test_label_prop_loop_matches_python(spark):
    """Three alternating mode-vote rounds recomputed imperatively must
    agree on every node's final label, and labels must actually move
    (some supplier adopts a non-seed label)."""
    from collections import Counter

    from odc_product_docker_images_spark.operators.graph import (
        graph_label_prop_loop,
    )

    got = {
        (r["node_id"], r["side"]): r["label"]
        for r in graph_label_prop_loop(spark, SF).collect()
    }
    edges, _ = _edges_und()
    sup = pq.read_table(
        f"{SF}/supplier.parquet", columns=["s_suppkey", "s_nationkey"]
    ).to_pandas()
    seed = dict(zip(sup.s_suppkey, (int(x) for x in sup.s_nationkey)))

    def mode_vote(pairs):  # [(node, label)] -> {node: argmax label}
        votes = Counter(pairs)
        best = {}
        for (node, label), n in sorted(votes.items(), key=lambda kv: (kv[0][0], -kv[1], kv[0][1])):
            best.setdefault(node, label)
        return best

    p = mode_vote([(v, seed[u]) for u, v in edges])
    s2m = mode_vote([(u, p[v]) for u, v in edges])
    s2 = {u: s2m.get(u, lbl) for u, lbl in seed.items()}
    p3 = mode_vote([(v, s2[u]) for u, v in edges])
    expect = {(u, "supplier"): l for u, l in s2.items()}
    expect.update({(v, "part"): l for v, l in p3.items()})
    assert got == expect
    assert any(s2[u] != seed[u] for u in seed)  # labels propagated back


def test_kmeans_loop_matches_numpy_lloyd(spark):
    """Three Lloyd rounds recomputed in numpy (same seeding, same
    tie-breaks) must agree on cluster sizes exactly and means to 1e-6."""
    from odc_product_docker_images_spark.textvec.kmeans import (
        _K,
        _KM_ITERS,
        sim_kmeans_loop,
    )

    rows = sim_kmeans_loop(spark, SF).collect()
    em = pq.read_table(f"{SF}/embeddings.parquet").to_pandas()
    em = em.sort_values("vec_id")
    X = np.stack(em["embedding"].to_numpy()).astype(np.float64)
    ids = em["vec_id"].to_numpy()
    C = X[ids < _K].copy()
    for _ in range(_KM_ITERS):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(np.round(d2, 6), axis=1)  # ties: lowest centroid id
        C = np.stack([X[assign == c].mean(axis=0) for c in range(C.shape[0])])
    sizes = {c: int((assign == c).sum()) for c in range(C.shape[0])}
    got_sizes = {}
    for r in rows:
        got_sizes[r["centroid_id"]] = r["n_members"]
        assert abs(r["new_val"] - C[r["centroid_id"], r["dim"] - 1]) < 1e-6
    assert got_sizes == sizes
    assert len(rows) == len(sizes) * 64


def test_trigram_backoff_tiers_fire_and_conserve(spark):
    """All three stupid-backoff tiers must fire on the fixture (pruning
    forces real backoff), per-doc tier counts must conserve, and scores
    must be negative log-probs."""
    from odc_product_docker_images_spark.textvec.lm_bigram import text_lm_trigram

    rows = text_lm_trigram(spark, SF).collect()
    assert rows
    tot_tri = sum(r["n_tri_hits"] for r in rows)
    tot_bi = sum(r["n_bi_hits"] for r in rows)
    tot_uni = sum(r["n_uni_hits"] for r in rows)
    assert tot_tri > 0 and tot_bi > 0 and tot_uni > 0
    for r in rows:
        assert r["n_tri_hits"] + r["n_bi_hits"] + r["n_uni_hits"] == r["n_trigrams"]
        assert r["avg_logprob"] < 0


def test_ivf_pq_funnel_matches_numpy_replica(spark):
    """The whole IVF→ADC→exact funnel recomputed in numpy (same seeds,
    same tie-breaks) must agree on probe restriction, shortlist, and the
    final top-5 — and the bucket restriction must genuinely prune."""
    from odc_product_docker_images_spark.textvec.pq import (
        _CAND,
        _K,
        _M,
        _NPROBE_F,
        _NQ,
        _SUB,
        _TOPK,
        sim_ivf_pq_funnel,
    )

    rows = sim_ivf_pq_funnel(spark, SF).collect()
    em = pq.read_table(f"{SF}/embeddings.parquet").to_pandas().sort_values("vec_id")
    X = np.stack(em["embedding"].to_numpy()).astype(np.float64)
    ids = em["vec_id"].to_numpy()
    C = X[ids < _K]
    # stage 1: IVF assignment + probes (round like dround before argmin)
    bd = np.round(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), 6)
    assign = np.argmin(bd, axis=1)
    # stage 2: PQ codes + ADC tables
    codes = np.zeros((len(X), _M), dtype=int)
    tabs = {}
    for m in range(_M):
        sl = slice(m * _SUB, (m + 1) * _SUB)
        d = np.round(((X[:, None, sl] - C[None, :, sl]) ** 2).sum(axis=2), 6)
        codes[:, m] = np.argmin(d, axis=1)
        tabs[m] = d
    got = {}
    for r in rows:
        got.setdefault(r["q_id"], []).append(r)
    assert set(got) == set(range(_NQ))
    n = len(X)
    for q in range(_NQ):
        probe = np.argsort(bd[q], kind="stable")[:_NPROBE_F]
        cand_mask = np.isin(assign, probe)
        n_probed = int(cand_mask.sum())
        assert 0 < n_probed < n  # the IVF restriction actually pruned
        approx = np.round(
            sum(tabs[m][q][codes[:, m]] for m in range(_M)), 6
        )
        cand_ids = ids[cand_mask]
        order = np.lexsort((cand_ids, approx[cand_mask]))[:_CAND]
        short = cand_ids[order]
        exact = np.round(((X[np.isin(ids, short)] - X[q]) ** 2).sum(axis=1), 6)
        short_sorted = np.sort(short)
        final = sorted(zip(exact, short_sorted))[:_TOPK]
        mine = sorted((r["rnk"], r["vec_id"], r["exact_d2"]) for r in got[q])
        assert len(mine) == _TOPK
        for (rnk, vid, d2), (ed, eid) in zip(mine, final):
            assert vid == eid and abs(d2 - ed) < 1e-6, (q, rnk)
        assert all(r["n_probed"] == n_probed for r in got[q])


def test_hits_loop_matches_numpy_and_moves_past_step(spark):
    """Three HITS rounds recomputed in numpy must agree to ~K·1e-6 (the
    per-stage 6 dp rounds bound the drift), and the loop's authorities
    must differ from the one-step (in-degree) vector — the iteration is
    real."""
    from odc_product_docker_images_spark.operators.graph import (
        _HITS_ROUNDS,
        graph_hits_loop,
        graph_hits_step,
    )

    loop = {r["node_id"]: r for r in graph_hits_loop(spark, SF).collect()}
    step = {r["node_id"]: r for r in graph_hits_step(spark, SF).collect()}
    edges, _ = _edges_und()
    srcs = sorted({u for u, _ in edges})
    dsts = sorted({v for _, v in edges})
    si = {u: i for i, u in enumerate(srcs)}
    di = {v: i for i, v in enumerate(dsts)}
    A = np.zeros((len(srcs), len(dsts)))
    for u, v in edges:
        A[si[u], di[v]] = 1.0
    h = np.ones(len(srcs))
    for _ in range(_HITS_ROUNDS):
        a = A.T @ h
        a = a / np.sqrt((a * a).sum())
        h = A @ a
        h = h / np.sqrt((h * h).sum())
    assert set(loop) == set(srcs) | set(dsts)
    for v in dsts:
        assert abs(loop[v]["auth"] - a[di[v]]) < 1e-5
        assert loop[v]["hub"] == 0.0
    for u in srcs:
        assert abs(loop[u]["hub"] - h[si[u]]) < 1e-5
        assert loop[u]["auth"] == 0.0
    moved = sum(
        1 for v in dsts if abs(loop[v]["auth"] - step[v]["auth"]) > 1e-4
    )
    assert moved > 0  # authorities genuinely iterated past in-degree


def test_pca_power_loop_matches_numpy_and_converges(spark):
    """Three power iterations recomputed in numpy must agree to ~1e-5,
    and the 3-round vector must be closer to the dominant eigenvector
    than the 1-round vector."""
    from odc_product_docker_images_spark.textvec.kmeans import (
        _PCA_ITERS,
        _PCA_V0,
        ml_pca_power_loop,
        ml_pca_power_step,
    )

    rows = {r["dim_idx"]: r for r in ml_pca_power_loop(spark, SF).collect()}
    em = pq.read_table(f"{SF}/embeddings.parquet").to_pandas()
    X = np.stack(em["embedding"].to_numpy()).astype(np.float64)
    v = np.array(_PCA_V0)
    for _ in range(_PCA_ITERS):
        w = X.T @ (X @ v)
        v = w / np.sqrt((w * w).sum())
    assert len(rows) == 64
    assert max(abs(rows[j + 1]["v_next"] - v[j]) for j in range(64)) < 1e-5
    # convergence: 3 rounds beat 1 round toward the dominant eigenvector
    vstar = v.copy()
    for _ in range(200):
        w = X.T @ (X @ vstar)
        vstar = w / np.sqrt((w * w).sum())
    v1 = {r["dim_idx"]: r["v_next"] for r in ml_pca_power_step(spark, SF).collect()}
    e_loop = sum((rows[j + 1]["v_next"] - vstar[j]) ** 2 for j in range(64))
    e_step = sum((v1[j + 1] - vstar[j]) ** 2 for j in range(64))
    assert e_loop < e_step


def test_platt_loop_matches_numpy_newton_and_converges(spark):
    """Three Newton steps recomputed in numpy (same per-round 6 dp
    rounds on (a, b)) must agree, and the final gradients must be far
    smaller than the first step's — the fit genuinely converges."""
    from odc_product_docker_images_spark.operators.model_eval import (
        _PLATT_A0,
        _PLATT_B0,
        _PLATT_ITERS,
        ml_platt_scaling_loop,
        ml_platt_scaling_step,
    )

    row = ml_platt_scaling_loop(spark, SF).collect()[0]
    em = pq.read_table(f"{SF}/embeddings.parquet").to_pandas()
    x = np.stack(em["embedding"].to_numpy()).astype(np.float64)[:, 0]
    y = (em["label"].to_numpy() < 5).astype(np.float64)
    a, b = _PLATT_A0, _PLATT_B0
    for _ in range(_PLATT_ITERS):
        pr = np.round(1.0 / (1.0 + np.exp(-(a * x + b))), 6)
        ga = ((pr - y) * x).sum()
        gb = (pr - y).sum()
        w = pr * (1 - pr)
        haa, hab, hbb = (w * x * x).sum(), (w * x).sum(), w.sum()
        det = haa * hbb - hab * hab
        a = round(a - (ga * hbb - gb * hab) / det, 6)
        b = round(b - (gb * haa - ga * hab) / det, 6)
    assert abs(row["a_fit"] - a) < 1e-4 and abs(row["b_fit"] - b) < 1e-4
    step = ml_platt_scaling_step(spark, SF).collect()[0]
    assert abs(row["gb"]) < abs(step["gb"]) / 10  # Newton converged


def test_gmm_em_loop_matches_numpy_and_improves(spark):
    """Three EM rounds recomputed in numpy (same responsibility form,
    same exp clamp/round) must agree, weights must stay a partition of
    1, and total log-likelihood must be non-decreasing across the three
    fits (EM's defining property)."""
    from odc_product_docker_images_spark.operators.metrics import (
        _GMM_ITERS,
        _GMM_MU,
        _GMM_VAR0,
        _GMM_W0,
        ml_gmm_em_loop,
    )

    rows = {r["k"]: r for r in ml_gmm_em_loop(spark, SF).collect()}
    ev = pq.read_table(f"{SF}/events.parquet", columns=["value"]).to_pandas()
    x = ev["value"].to_numpy().astype(np.float64)
    w1, mu1, v1 = _GMM_W0, _GMM_MU[0], _GMM_VAR0
    w2, mu2, v2 = _GMM_W0, _GMM_MU[1], _GMM_VAR0

    def loglik(w1, mu1, v1, w2, mu2, v2):
        n1 = w1 * np.exp(-((x - mu1) ** 2) / (2 * v1)) / np.sqrt(2 * np.pi * v1)
        n2 = w2 * np.exp(-((x - mu2) ** 2) / (2 * v2)) / np.sqrt(2 * np.pi * v2)
        return np.log(n1 + n2).sum()

    lls = [loglik(w1, mu1, v1, w2, mu2, v2)]
    for _ in range(_GMM_ITERS):
        t = np.clip(
            (x - mu1) ** 2 / (2 * v1) - (x - mu2) ** 2 / (2 * v2), -29, 29
        )
        r1 = 1.0 / (1.0 + (w2 / w1) * np.sqrt(v1 / v2) * np.round(np.exp(t), 6))
        n = len(x)
        w1, mu1 = r1.sum() / n, (r1 * x).sum() / r1.sum()
        v1 = (r1 * x * x).sum() / r1.sum() - mu1 * mu1
        r2 = 1.0 - r1
        w2, mu2 = r2.sum() / n, (r2 * x).sum() / r2.sum()
        v2 = (r2 * x * x).sum() / r2.sum() - mu2 * mu2
        lls.append(loglik(w1, mu1, v1, w2, mu2, v2))
    got1, got2 = rows[1], rows[2]
    for got, exp_ in ((got1, (w1, mu1, v1)), (got2, (w2, mu2, v2))):
        assert abs(got["weight"] - exp_[0]) < 1e-6
        assert abs(got["mu"] - exp_[1]) < 1e-3
        assert abs(got["var"] - exp_[2]) < 1e-1  # var ~1e3 scale
    assert abs(got1["weight"] + got2["weight"] - 1.0) < 1e-9
    assert all(b >= a - 1e-6 for a, b in zip(lls, lls[1:]))  # EM monotone


def _degen_dir():
    """Pathological 1-2-row fixture (single user/day, constant values,
    one embedding) — the degenerate-grain sweep's input.  Built once as a
    scratch artifact; every oracled key must run without raising on it
    (the agg_cohort_decay_fit / agg_gamma_mom / sim_ann_ivf failure
    class)."""
    from conftest import SF_DIR
    from odc_product_docker_images_spark.scratch import artifact, fixture_tag

    return artifact("degen_sweep", lambda d: _write_degen(SF_DIR, d), fixture_tag(SF_DIR))


def _write_degen(src: str, d: str) -> None:
    import duckdb

    con = duckdb.connect()
    specs = {
        t: f"SELECT * FROM read_parquet('{src}/{t}.parquet') LIMIT 1"
        for t in [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "documents", "embeddings",
        ]
    }
    specs["events"] = (
        # value must be DOUBLE like the real fixture — a bare 5.0 literal
        # is DECIMAL(2,1) in DuckDB, and a decimal-typed value column
        # round-trips through the versioned-table/stream writers with the
        # wrong physical type (found by the r9c full-evaluation degen
        # parity sweep: unscaled-decimal misreads showed up as 10x sums)
        "SELECT event_id, TIMESTAMP '2024-01-01 12:00:00' AS ts,"
        " 1::BIGINT AS user_id, 'view' AS event_type,"
        " 5.0::DOUBLE AS value, props"
        f" FROM read_parquet('{src}/events.parquet') LIMIT 2"
    )
    for t, q in specs.items():
        con.execute(f"COPY ({q}) TO '{d}/{t}.parquet' (FORMAT PARQUET)")


def test_ann_keys_survive_one_vector_corpus(spark):
    """A 1-vector corpus has NO pairs: the IVF path must emit the empty
    set instead of hard-erroring in the KMeans fit (k > points), and the
    recall gate must report n_true=0 with vacuously-true floors."""
    from odc_product_docker_images_spark.textvec.similarity import sim_ann_recall
    from odc_product_docker_images_spark.textvec.similarity_ivf import sim_ann_ivf

    d = _degen_dir()
    assert sim_ann_ivf(spark, d).count() == 0
    rows = {r["method"]: r for r in sim_ann_recall(spark, d).collect()}
    assert rows["ivf"]["n_true"] == 0 and rows["ivf"]["floor_met"]
    assert rows["lsh"]["floor_met"]


def test_degenerate_guard_class_keys(spark):
    """The keys that have historically thrown on degenerate grains
    (ANSI DIVIDE_BY_ZERO, decimal-hop overflow) must all run on the
    pathological fixture — single user/day, zero purchases, constant
    values, one embedding."""
    from odc_product_docker_images_spark import registry

    d = _degen_dir()
    qs = registry.all_queries()
    for k in [
        "agg_gamma_mom",
        "agg_cohort_decay_fit",
        "ml_gmm_em_loop",
        "agg_overdispersion",
        "window_rolling_slope",
        "agg_ttest_welch",
        "forecast_holt",
        "agg_retention_cohort",
    ]:
        # collect(), NOT count(): count() lets Catalyst prune the very
        # projections that divide by zero, so it under-tests (the r9c
        # full-evaluation sweep found 32 keys green under count() that
        # raised under collect())
        qs[k].fn(spark, d).collect()  # must not raise


def test_dround_int64_hop_domain():
    """Pin the decimal round path's true domain at nd=6: exact through
    ~9.19e12, hard CAST_OVERFLOW past 2^63/10^6 — the boundary the GMM
    exp clamp exists for (and that the old 1e17 docstring overstated)."""
    import pytest

    from odc_product_docker_images_spark.functions.det import dround
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.getActiveSession()
    df = spark.range(1)
    ok = df.select(dround(F.lit(9.1e12)).alias("v")).collect()[0]["v"]
    assert ok == 9.1e12
    with pytest.raises(Exception, match="CAST_OVERFLOW|overflow"):
        df.select(dround(F.lit(9.3e12)).alias("v")).collect()


def test_minhash_recall_gate_matches_recomputed(spark):
    """The gate's boolean must equal a recomputed recall-vs-floor check
    over the exact j >= 0.7 truth, and the fixture recall must clear
    its floor."""
    from odc_product_docker_images_spark.textvec.dedup import (
        dedup_minhash,
        dedup_minhash_recall,
        dedup_ngram_jaccard,
    )

    from odc_product_docker_images_spark.textvec.dedup import (
        _AUDIT_KNUTH,
        _AUDIT_PCT,
    )

    row = dedup_minhash_recall(spark, SF).collect()[0]
    exact = dedup_ngram_jaccard(spark, SF).toPandas()
    # r9: truth is the sampled-slice audit — recompute the slice
    # independently from the FULL exact j >= 0.7 set
    in_slice = lambda d: (d * _AUDIT_KNUTH) % 100 < _AUDIT_PCT  # noqa: E731
    truth_full = {(r.doc_a, r.doc_b) for r in exact.itertuples() if r.jaccard >= 0.7}
    truth = {(a, b) for a, b in truth_full if in_slice(a) and in_slice(b)}
    got = {
        (r.doc_a, r.doc_b) for r in dedup_minhash(spark, SF).toPandas().itertuples()
    }
    assert truth and truth < truth_full  # slice is non-trivial both ways
    recall = len(truth & got) / len(truth)
    assert row["n_true"] == len(truth)
    assert row["floor_met"] == (recall * 100 >= row["floor_pct"])
    assert row["floor_met"], f"minhash recall {recall:.2f} under floor"


def test_sketch_gates_match_recomputed_properties(spark):
    """Both gate booleans must equal independently recomputed property
    checks over exact python counts."""
    from collections import Counter

    from odc_product_docker_images_spark.textvec.heavyhitters import (
        K,
        sketch_error_gates,
        text_heavy_hitters,
    )

    rows = {r["method"]: r for r in sketch_error_gates(spark, SF).collect()}
    docs = pq.read_table(f"{SF}/documents.parquet", columns=["text"]).to_pandas()
    counts = Counter()
    for t in docs["text"]:
        counts.update(t.split(" "))
    n = sum(counts.values())
    true_hh = {t for t, c in counts.items() if c * (K + 1) > n}
    mg = {r["token"]: r["est_count"] for r in text_heavy_hitters(spark, SF).collect()}
    no_fn = true_hh <= set(mg)
    under = all(est <= counts[t] for t, est in mg.items())
    err = all((counts[t] - est) * (K + 1) <= n for t, est in mg.items())
    r = rows["misra_gries"]
    assert r["n_true"] == len(true_hh)
    assert r["gate_met"] == (no_fn and under and err)
    assert r["gate_met"]
    li = pq.read_table(
        f"{SF}/lineitem.parquet", columns=["l_returnflag", "l_partkey"]
    ).to_pandas()
    ex = li.groupby("l_returnflag")["l_partkey"].nunique()
    assert rows["hll_distinct"]["n_true"] == int(ex.sum())
    assert rows["hll_distinct"]["gate_met"]
