"""Graph analytics as relational steps (SURVEY.md §2.10 extension — the
lineage/link-analysis workloads a catalog-scale deployment grows).

Same thesis as ``textvec.kmeans``: an iterative graph algorithm on Spark
is a loop of relational steps, so verify THE STEP with a full oracle and
induct on the loop.  ``dedup_clusters`` already runs a full iterative
propagation (min-label connected components); this module pins one
PageRank power-iteration step."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import (
    dec_cast,
    dround,
    exact_double,
    sql_dec_cast,
    sql_dround,
    sql_exact_double,
)
from ..io import load
from ..registry import register
from ..scratch import artifact, fixture_tag

_DAMP = 0.85
_DST_OFF = 10_000_000  # part keys into their own node-id namespace


def _pagerank_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-once distinct supplier→part edge artifact (src, dst).

    The iterative-algorithm contract: the edge table is reused by every
    term of every iteration, and Spark lineages re-scan their source per
    consumer — without this, the executed step plan re-read lineitem NINE
    times (measured).  A real deployment keeps the edge table as a
    bucketed/sorted artifact; here a ``scratch.artifact`` parquet is the
    same move at fixture scale.  Keyed on a fixture fingerprint
    (``scratch.fixture_tag`` — regenerating the fixture in place
    invalidates the artifact; five graded keys read this table) and
    write-once: a uuid-per-call path re-ran the distinct+write job on
    every invocation (bench, parity, gen_plans).  Shared by
    ``graph_pagerank_step`` and ``graph_pagerank_loop``."""

    def build(path: str) -> None:
        lf = load(spark, sf_dir, "lineitem")
        lf.select(
            F.col("l_suppkey").alias("src"),
            (F.col("l_partkey") + _DST_OFF).alias("dst"),
        ).distinct().write.mode("overwrite").parquet(path)

    return spark.read.parquet(artifact("pr_edges", build, fixture_tag(sf_dir)))


@register(
    "graph_pagerank_step",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS src, l_partkey + {_DST_OFF} AS dst
            FROM lineitem
        ), nodes AS (
            SELECT src AS id FROM edges UNION SELECT dst FROM edges
        ), stats AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
        ), outdeg AS (
            SELECT src, CAST(COUNT(*) AS DOUBLE) AS od FROM edges GROUP BY src
        ), dang AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_dangling
            FROM nodes LEFT JOIN outdeg ON nodes.id = outdeg.src
            WHERE od IS NULL
        ), contrib AS (
            SELECT dst AS id,
                   {sql_exact_double(f"SUM({sql_dec_cast('CAST(1.0 AS DOUBLE) / od')})")} AS c
            FROM edges JOIN outdeg USING (src)
            GROUP BY dst
        )
        SELECT nodes.id AS node_id,
               (CAST(0.15 AS DOUBLE)
                 + CAST({_DAMP!r} AS DOUBLE)
                   * (COALESCE(c, CAST(0.0 AS DOUBLE)) + n_dangling / n)) / n AS pr
        FROM nodes LEFT JOIN contrib ON nodes.id = contrib.id
        CROSS JOIN stats CROSS JOIN dang
    """,
)
def graph_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-graph: ONE PageRank power-iteration step over the supplier→part
    edge set (distinct ``(l_suppkey, l_partkey)`` pairs, part ids shifted
    into their own namespace), from the uniform start vector: ``pr₁(v) =
    (1-d)/N + d·(Σ_{u→v} pr₀/outdeg(u) + dangling_mass/N)`` with the
    standard dangling-node redistribution (every part is a sink here, so
    dropping that mass would be visibly wrong).  Spark-first: one edge
    scan feeds outdeg (hash-agg) and the per-destination contribution
    (equi-join edges⋈outdeg — co-partitioned on src — then a hash-agg on
    dst); the two global scalars (N, dangling count) ride broadcast cross
    joins.  At 100 TB the full algorithm is this plan iterated with pr
    fed back as a table joined on src — each step is two linear shuffles
    (src, dst), which is exactly Pregel's cost model expressed
    relationally.

    Determinism: the recurrence is computed in UNIT-MASS form (factor the
    common 1/N out of every term and divide once at the end) so the
    order-sensitive per-destination SUM runs over ``1/outdeg`` values of
    order 1 — the exact decimal path's 6 dp round keeps full precision
    there, where rounding the 1e-5-scale pr masses directly would not;
    the final affine combination is the identical literal-for-literal
    double expression in both engines (DOUBLE casts on every literal —
    DuckDB parses bare float literals as DECIMAL)."""
    edges = _pagerank_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    stats = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("od"))
    dang = (
        nodes.join(outdeg, nodes["id"] == outdeg["src"], "left")
        .where(F.col("od").isNull())
        .agg(F.count(F.lit(1)).cast("double").alias("n_dangling"))
    )
    per_edge = F.lit(1.0) / F.col("od")
    contrib = (
        edges.join(outdeg, "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(exact_double(F.sum(dec_cast(per_edge))).alias("c"))
    )
    pr = (
        F.lit(0.15)
        + F.lit(_DAMP)
        * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("n_dangling") / F.col("n"))
    ) / F.col("n")
    return (
        nodes.join(contrib, "id", "left")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dang))
        .select(F.col("id").alias("node_id"), pr.alias("pr"))
    )


_PR_ITERS = 3  # unrolled power iterations (fixed K — the MMR convention)


def _pagerank_loop_oracle(k: int) -> str:
    """Chained-CTE oracle for K unrolled PageRank iterations — the
    fixed-K sibling of ``forecast_holt``'s recursive CTE (recursion over
    a VECTOR state needs grouped aggregation per step, which recursive
    CTE terms disallow, so the fixed iteration count unrolls instead)."""
    dangling_sum = sql_exact_double(f"SUM({sql_dec_cast('m')})")
    contrib_sum = sql_exact_double(f"SUM({sql_dec_cast('p.m / p.od')})")
    parts = [
        f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS src, l_partkey + {_DST_OFF} AS dst
            FROM lineitem
        ), outdeg AS (
            SELECT src, CAST(COUNT(*) AS DOUBLE) AS od FROM edges GROUP BY src
        ), base AS (
            SELECT nodes.id AS id, outdeg.od AS od
            FROM (SELECT src AS id FROM edges UNION SELECT dst FROM edges) nodes
            LEFT JOIN outdeg ON nodes.id = outdeg.src
        ), stats AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM base
        ), pr0 AS (
            SELECT id, od, CAST(1.0 AS DOUBLE) AS m FROM base
        )"""
    ]
    for i in range(k):
        parts.append(
            f""", d{i} AS (
            SELECT {dangling_sum} AS dm FROM pr{i} WHERE od IS NULL
        ), c{i + 1} AS (
            SELECT e.dst AS id, {contrib_sum} AS c
            FROM edges e JOIN pr{i} p ON e.src = p.id
            GROUP BY e.dst
        ), pr{i + 1} AS (
            SELECT b.id, b.od,
                   CAST(0.15 AS DOUBLE) + CAST({_DAMP!r} AS DOUBLE)
                     * (COALESCE(c, CAST(0.0 AS DOUBLE))
                        + COALESCE(dm, CAST(0.0 AS DOUBLE)) / n) AS m
            FROM base b LEFT JOIN c{i + 1} ON b.id = c{i + 1}.id
            CROSS JOIN d{i} CROSS JOIN stats
        )"""
        )
    parts.append(
        f"""
        SELECT pr{k}.id AS node_id, m / n AS pr
        FROM pr{k} CROSS JOIN stats"""
    )
    return "".join(parts)


@register("graph_pagerank_loop", oracle=_pagerank_loop_oracle(_PR_ITERS))
def graph_pagerank_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-graph: the FULL PageRank loop — K={_PR_ITERS} power iterations of
    ``graph_pagerank_step``'s verified recurrence over the supplier→part
    edge set, unrolled with a per-iteration ``persist()`` (the
    ``sim_mmr_rerank`` lesson: without it the lineage re-executes the
    whole chain O(K²)).  State is carried in UNIT-MASS form m = N·pr
    (m₀ = 1): the order-sensitive per-destination sums run over O(1)
    masses where the decimal path's 6 dp round keeps full precision, and
    every iteration's affine update is the identical literal-for-literal
    double expression on both engines, so the chain is bit-identical and
    the final pr = m_K/N hashes with NO further rounding.

    Spark-first: each iteration is exactly Pregel's cost model expressed
    relationally — one equi-join shuffle (edges ⋈ prₖ on src) + one
    hash-agg shuffle (contributions on dst) + a broadcast of the two
    1-row scalars (dangling mass, N); the persisted state table is
    O(nodes), the 100 TB scale axis is |edges| per iteration and K stays
    a small constant.  The oracle unrolls the same K steps as chained
    CTEs (grouped aggregation per step rules out the recursive-CTE form
    — see ``_pagerank_loop_oracle``)."""
    edges = _pagerank_edges(spark, sf_dir)
    outdeg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("od")
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    base = (
        nodes.join(outdeg, nodes["id"] == outdeg["src"], "left")
        .select("id", "od")
        .persist()
    )
    stats = base.agg(F.count(F.lit(1)).cast("double").alias("n")).persist()
    pr = base.withColumn("m", F.lit(1.0)).persist()
    for _ in range(_PR_ITERS):
        dang = pr.where(F.col("od").isNull()).agg(
            exact_double(F.sum(dec_cast("m"))).alias("dm")
        )
        contrib = (
            edges.join(pr, edges["src"] == pr["id"])
            .groupBy(F.col("dst").alias("cid"))
            .agg(
                exact_double(
                    F.sum(dec_cast(F.col("m") / F.col("od")))
                ).alias("c")
            )
        )
        m_next = F.lit(0.15) + F.lit(_DAMP) * (
            F.coalesce(F.col("c"), F.lit(0.0))
            + F.coalesce(F.col("dm"), F.lit(0.0)) / F.col("n")
        )
        pr = (
            base.join(contrib, base["id"] == contrib["cid"], "left")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(stats))
            .select("id", "od", m_next.alias("m"))
            .persist()
        )
    return pr.crossJoin(F.broadcast(stats)).select(
        F.col("id").alias("node_id"), (F.col("m") / F.col("n")).alias("pr")
    )


def _oriented_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-once oriented co-purchase edge artifact (src, dst, deg_src,
    deg_dst): parts sharing an order, each undirected edge oriented from
    its (deg, id)-lesser endpoint.  Shared by the triangle and
    link-prediction keys — the derivation (self-join + two degree joins)
    re-plans per consumer otherwise (first cut: 18 static scans)."""

    def build(path: str) -> None:
        lf = load(spark, sf_dir, "lineitem")
        a = lf.select("l_orderkey", F.col("l_partkey").alias("u"))
        b = lf.select("l_orderkey", F.col("l_partkey").alias("v"))
        pairs = (
            a.join(b, "l_orderkey").where(F.col("u") < F.col("v")).select("u", "v").distinct()
        )
        degs = (
            pairs.select(F.col("u").alias("node"))
            .unionAll(pairs.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # Orient u->v from the (deg, id)-lesser endpoint; keep endpoint
        # degrees for the wedge-side tuple compare (no global rank window).
        du = degs.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
        dv = degs.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
        ed = pairs.join(du, "u").join(dv, "v")
        u_first = (F.col("deg_u") < F.col("deg_v")) | (
            (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
        )
        (
            ed.select(
                F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
                F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
                F.when(u_first, F.col("deg_u")).otherwise(F.col("deg_v")).alias("deg_src"),
                F.when(u_first, F.col("deg_v")).otherwise(F.col("deg_u")).alias("deg_dst"),
            )
            .write.mode("overwrite")
            .parquet(path)
        )

    return spark.read.parquet(artifact("tri_oriented", build, fixture_tag(sf_dir)))


@register(
    "graph_triangle_count",
    oracle=f"""
        WITH pairs AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM lineitem a
            JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ), degs AS (
            SELECT node, COUNT(*) AS deg FROM (
                SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
            ) GROUP BY node
        ), tri AS (
            SELECT COUNT(*) AS n_triangles
            FROM pairs e1
            JOIN pairs e2 ON e2.u = e1.u AND e2.v > e1.v
            JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v
        ), base AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
            FROM degs
        ), edges AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs
        )
        SELECT n_nodes, n_edges, n_wedges,
               CAST(n_triangles AS BIGINT) AS n_triangles,
               {sql_dround('CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)')}
                 AS cc_global
        FROM base CROSS JOIN edges CROSS JOIN tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-graph: triangle count + global clustering coefficient of the
    part co-purchase graph (parts sharing an order).  Spark-first with the
    DEGREE-ORDERED orientation that makes distributed triangle counting
    linear-ish in practice: orient every undirected edge from its
    (deg, id)-lesser endpoint, enumerate wedges only at each triangle's
    unique two-out-edge apex, and close them with ONE equi-join back to
    the oriented edge set — outdegree under this orientation is bounded
    by O(sqrt(|E|)), so the wedge fan-out never explodes on hub nodes
    (the naive per-node adjacency join is quadratic in hub degree).  The
    oracle counts the same triangles via canonical u<v<w joins.  The
    ORIENTED edge list (src, dst, endpoint degrees) is materialized once
    per sf_dir (same write-once scratch contract as
    ``graph_pagerank_step``): it has FIVE consumers (both wedge sides,
    the closure probe, the degree rollup, the edge count), and Spark
    lineage would otherwise re-run the self-join + two degree joins per
    consumer — the first cut planned 18 static scans; the artifact brings
    every consumer down to one cheap columnar read.  Wedge count
    Σ deg·(deg−1)/2 stays in exact integer arithmetic (``div``/``//`` on
    both sides); the coefficient ratio takes the decimal round path."""
    oriented = _oriented_copurchase_edges(spark, sf_dir)
    o1 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("deg_dst").alias("deg_b")
    )
    # r12 (guide §3.1): both probe joins carry SHUFFLE_HASH hints — the
    # build sides are edge-bounded (|E|/numPartitions rows per in-memory
    # hash table at any scale), while the default sort-merge pays an
    # O(wedges·log) sort of the 41M-row wedge stream (sf0.1) on the probe
    # side.  Same rows out, join strategy only: measured 8.2 s → 3.4 s
    # warm min at sf0.1.
    # r13 negative result (VERDICT item 4): the node-iterator form —
    # per-apex sorted adjacency array + index-pair explode replacing this
    # self-join — was implemented, parity-PASSed, and measured 2.4×
    # SLOWER (7.63 vs 3.17 s interleaved warm min at sf0.1): collect_list
    # + nested-transform struct materialization loses to the streamed
    # hash probe even with the O(√E) orientation bound, the same
    # arithmetic as the r12 join_bipartite_projection negative.  REVERTED.
    o2 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("deg_dst").alias("deg_c")
    ).hint("shuffle_hash")
    b_first = (F.col("deg_b") < F.col("deg_c")) | (
        (F.col("deg_b") == F.col("deg_c")) & (F.col("b") < F.col("c"))
    )
    wedges = o1.join(o2, "a").where(b_first)
    # r13 second negative result: BROADCASTING the closure edges (to keep
    # the 41M-row wedge stream from being hash-exchanged at all) also
    # measured SLOWER — 5.0–5.1 vs 3.1–3.3 s interleaved warm min: the
    # generic 2-key broadcast hash relation costs more per wedge probe
    # than the shuffled build, and the 1.2M-row broadcast build is not
    # free.  Both rewrites REVERTED; the r12 SHJ form stands.
    closure = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c")).hint(
        "shuffle_hash"
    )
    tri = wedges.join(closure, ["b", "c"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    node_degs = (
        oriented.select(F.col("src").alias("node"), F.col("deg_src").alias("deg"))
        .unionAll(oriented.select(F.col("dst").alias("node"), F.col("deg_dst").alias("deg")))
        .distinct()
    )
    base = node_degs.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.expr("(deg * (deg - 1)) div 2")).cast("long").alias("n_wedges"),
    )
    edges_n = oriented.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    cc = dround(
        (F.lit(3) * F.col("n_triangles")).cast("double") / F.col("n_wedges").cast("double")
    )
    return (
        base.crossJoin(F.broadcast(edges_n))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles", cc.alias("cc_global"))
    )


_LP_HUB_CAP = 50  # wedge-center degree cap (link-prediction convention)
_LP_TOPN = 100


@register(
    "graph_link_prediction",
    oracle=f"""
        WITH pairs AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM lineitem a
            JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ), degs AS (
            SELECT node, COUNT(*) AS deg FROM (
                SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
            ) GROUP BY node
        ), adj AS (
            SELECT u AS a, v AS n FROM pairs
            UNION ALL
            SELECT v AS a, u AS n FROM pairs
        ), wedge AS (
            SELECT x.n AS b, y.n AS c, COUNT(*) AS common
            FROM adj x
            JOIN adj y ON x.a = y.a AND x.n < y.n
            JOIN degs d ON d.node = x.a
            WHERE d.deg <= {_LP_HUB_CAP}
            GROUP BY x.n, y.n
        ), cand AS (
            SELECT b, c, common FROM wedge
            ANTI JOIN pairs ON pairs.u = wedge.b AND pairs.v = wedge.c
        ), scored AS (
            SELECT b, c, common, db.deg AS deg_b, dc.deg AS deg_c,
                   {sql_dround('CAST(common AS DOUBLE)'
                               ' / CAST(db.deg + dc.deg - common AS DOUBLE)')} AS jaccard
            FROM cand
            JOIN degs db ON db.node = cand.b
            JOIN degs dc ON dc.node = cand.c
        )
        SELECT b, c, common, deg_b, deg_c, jaccard
        FROM scored
        ORDER BY jaccard DESC, common DESC, b, c
        LIMIT {_LP_TOPN}
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-graph: common-neighbors / Jaccard link prediction over the part
    co-purchase graph — the top-{_LP_TOPN} NON-edges most likely to form,
    scored jaccard = |N(b)∩N(c)| / |N(b)∪N(c)|.  Spark-first: undirected
    adjacency unfolds from the SAME write-once oriented artifact the
    triangle key builds; candidate (b,c) pairs enumerate as wedges at
    shared neighbors with a HUB CAP on the wedge center (deg ≤
    {_LP_HUB_CAP} — the production convention that bounds the Σdeg² wedge
    fan-out; super-hub co-membership carries no signal), one grouped agg
    counts common neighbors, an anti-join removes existing edges, and two
    degree joins price the union.  The top-N is a
    ``TakeOrderedAndProject``, never a global sort.  Exact integer
    counts; the Jaccard ratio takes the decimal round path; ordering
    carries (common, b, c) tie-breaks so the LIMIT frontier is
    deterministic on both engines."""
    oriented = _oriented_copurchase_edges(spark, sf_dir)
    adj = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("n"), F.col("deg_src").alias("deg_a")
    ).unionAll(
        oriented.select(
            F.col("dst").alias("a"), F.col("src").alias("n"), F.col("deg_dst").alias("deg_a")
        )
    )
    # r12 (guide §2.1/§3.4, the join_bipartite_projection move): the wedge
    # stage was a self-join that consumed the capped adjacency TWICE —
    # Catalyst re-planned the artifact scan + union per side.  Post-cap
    # neighbor lists are ≤{_LP_HUB_CAP} rows ((a,n) unique → strictly
    # increasing after sort), so wedges explode from a per-center sorted
    # array instead: each b < c pair per center exactly once — identical
    # multiset to the self-join, one scan, no join.
    nbrs = (
        adj.where(F.col("deg_a") <= _LP_HUB_CAP)
        .groupBy("a")
        .agg(F.sort_array(F.collect_list("n")).alias("ns"))
    )
    wedge_structs = F.flatten(
        F.transform(
            F.col("ns"),
            lambda x, i: F.transform(
                F.slice(F.col("ns"), i + F.lit(2), F.size(F.col("ns"))),
                lambda y: F.struct(x.alias("b"), y.alias("c")),
            ),
        )
    )
    wedge = (
        nbrs.select(F.explode(wedge_structs).alias("e"))
        .groupBy(F.col("e.b").alias("b"), F.col("e.c").alias("c"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    edges = oriented.select(
        F.least("src", "dst").alias("b"), F.greatest("src", "dst").alias("c")
    )
    cand = wedge.join(edges, ["b", "c"], "left_anti")
    node_degs = (
        oriented.select(F.col("src").alias("node"), F.col("deg_src").alias("deg"))
        .unionAll(oriented.select(F.col("dst").alias("node"), F.col("deg_dst").alias("deg")))
        .distinct()
    )
    db = node_degs.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    dc_ = node_degs.select(F.col("node").alias("c"), F.col("deg").alias("deg_c"))
    scored = (
        cand.join(db, "b")
        .join(dc_, "c")
        .select(
            "b",
            "c",
            "common",
            "deg_b",
            "deg_c",
            dround(
                F.col("common").cast("double")
                / (F.col("deg_b") + F.col("deg_c") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), F.col("common").desc(), "b", "c"
    ).limit(_LP_TOPN)


_MOD_K = 5  # deterministic community assignment: node_id % K


@register(
    "graph_modularity",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS src, l_partkey + {_DST_OFF} AS dst
            FROM lineitem
        ), ends AS (
            SELECT src AS id, src % {_MOD_K} AS comm,
                   CAST(src % {_MOD_K} = dst % {_MOD_K} AS INTEGER) AS intra
            FROM edges
            UNION ALL
            SELECT dst, dst % {_MOD_K},
                   CAST(src % {_MOD_K} = dst % {_MOD_K} AS INTEGER)
            FROM edges
        ), c AS (
            SELECT comm,
                   COUNT(DISTINCT id) AS n_nodes,
                   COUNT(*) AS deg_sum,
                   CAST(FLOOR(SUM(intra) / 2) AS BIGINT) AS intra_edges
            FROM ends GROUP BY comm
        ), t AS (
            SELECT comm, n_nodes, deg_sum, intra_edges,
                   CAST(FLOOR(SUM(deg_sum) OVER () / 2) AS BIGINT) AS m
            FROM c
        )
        SELECT CAST(comm AS BIGINT) AS comm, n_nodes, deg_sum, intra_edges, m,
               CAST(intra_edges AS DOUBLE) / CAST(m AS DOUBLE)
                 - (CAST(deg_sum AS DOUBLE)
                    / (CAST(2 AS DOUBLE) * CAST(m AS DOUBLE)))
                   * (CAST(deg_sum AS DOUBLE)
                      / (CAST(2 AS DOUBLE) * CAST(m AS DOUBLE))) AS q_term
        FROM t
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-graph: Newman modularity per community — Q_c = intra_c/m −
    (deg_c/2m)², the quality functional every community-detection loop
    (Louvain/Leiden) maximizes; this key verifies the EVALUATION step the
    same way ``graph_pagerank_step``/``sim_kmeans_step`` verify their
    loops' induction steps.  Communities are the deterministic id % {_MOD_K}
    assignment — the metric, not the partition search, is under test.

    Spark-first: one distinct-edge pass EXPLODES into its two endpoint
    rows carrying an intra-community flag, so per-community degree sums,
    intra-edge counts, and node counts all come from ONE grouped agg
    (deg_c = endpoint rows, intra_c = intra endpoint rows / 2 — each
    intra edge contributes exactly two).  The global edge count m rides a
    {_MOD_K}-row window; every q_term input is integer-exact, the closing
    arithmetic a fixed IEEE chain — unrounded."""
    edges = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("l_partkey") + _DST_OFF).alias("dst"),
        )
        .distinct()
    )
    intra = (F.col("src") % _MOD_K == F.col("dst") % _MOD_K).cast("int")
    ends = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("src").alias("id"),
                    (F.col("src") % _MOD_K).alias("comm"),
                    intra.alias("intra"),
                ),
                F.struct(
                    F.col("dst").alias("id"),
                    (F.col("dst") % _MOD_K).alias("comm"),
                    intra.alias("intra"),
                ),
            )
        ).alias("e")
    ).select("e.id", "e.comm", "e.intra")
    c = ends.groupBy("comm").agg(
        F.count_distinct("id").alias("n_nodes"),
        F.count(F.lit(1)).alias("deg_sum"),
        F.floor(F.sum("intra") / 2).cast("bigint").alias("intra_edges"),
    )
    t = c.select(
        "*",
        F.floor(F.sum("deg_sum").over(Window.partitionBy()) / 2)
        .cast("bigint")
        .alias("m"),
    )
    two_m = F.lit(2.0) * F.col("m").cast("double")
    frac = F.col("deg_sum").cast("double") / two_m
    return t.select(
        F.col("comm").cast("bigint").alias("comm"),
        "n_nodes",
        "deg_sum",
        "intra_edges",
        "m",
        (
            F.col("intra_edges").cast("double") / F.col("m").cast("double")
            - frac * frac
        ).alias("q_term"),
    )


_BFS_SEED_MOD = 100  # seeds: suppliers with id % 100 == 0


@register(
    "graph_bfs_step",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS src, l_partkey + {_DST_OFF} AS dst
            FROM lineitem
        ), und AS (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT dst, src FROM edges
        ), d0 AS (
            SELECT DISTINCT src AS node FROM edges
            WHERE src % {_BFS_SEED_MOD} = 0
        ), d1 AS (
            SELECT DISTINCT u.dst AS node
            FROM und u JOIN d0 ON u.src = d0.node
            WHERE u.dst NOT IN (SELECT node FROM d0)
        ), d2 AS (
            SELECT DISTINCT u.dst AS node
            FROM und u JOIN d1 ON u.src = d1.node
            WHERE u.dst NOT IN (SELECT node FROM d0)
              AND u.dst NOT IN (SELECT node FROM d1)
        )
        SELECT node, 0 AS depth FROM d0
        UNION ALL SELECT node, 1 FROM d1
        UNION ALL SELECT node, 2 FROM d2
    """,
)
def graph_bfs_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-graph: two verified BFS frontier expansions from a seed set over
    the undirected supplier–part graph — each node labeled with its true
    distance (0/1/2).  The traversal primitive behind reachability,
    shortest-path layers, and contamination-spread analysis; the full
    BFS is this step iterated with the SAME semi/anti-join algebra
    (frontier ⋈ edges, minus visited) — the pagerank/kmeans induction
    discipline.

    Spark-first: the undirected edge list is derived once and PERSISTED
    (three consumers would re-plan the distinct otherwise — the
    graph_triangle_count lesson); each expansion is one equi-join plus
    LEFT ANTI joins against the visited tiers (broadcast — frontiers are
    small); `distinct` bounds every tier at |nodes|.  All exact integer
    identity — no arithmetic at all."""
    edges = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("l_partkey") + _DST_OFF).alias("dst"),
        )
        .distinct()
    )
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    d0 = (
        edges.where(F.col("src") % _BFS_SEED_MOD == 0)
        .select(F.col("src").alias("node"))
        .distinct()
        .persist()
    )
    d1 = (
        und.join(F.broadcast(d0), und["src"] == d0["node"])
        .select(F.col("dst").alias("node"))
        .distinct()
        .join(F.broadcast(d0), "node", "left_anti")
        .persist()
    )
    d2 = (
        und.join(F.broadcast(d1), und["src"] == d1["node"])
        .select(F.col("dst").alias("node"))
        .distinct()
        .join(F.broadcast(d0), "node", "left_anti")
        .join(F.broadcast(d1), "node", "left_anti")
    )
    return (
        d0.select("node", F.lit(0).alias("depth"))
        .unionByName(d1.select("node", F.lit(1).alias("depth")))
        .unionByName(d2.select("node", F.lit(2).alias("depth")))
    )


_BFS_LOOP_DEPTH = 3  # unrolled frontier expansions (fixed K — loop tier)


def _bfs_loop_oracle(k: int) -> str:
    """Chained-CTE oracle for K unrolled BFS frontier expansions — the
    traversal member of the fixed-K loop tier (``_pagerank_loop_oracle``
    convention; the visited set grows per step, which a recursive CTE
    could express, but the chained form keeps the tier's one-CTE-per-
    iteration shape auditable against the Spark loop)."""
    parts = [
        f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS src, l_partkey + {_DST_OFF} AS dst
            FROM lineitem
        ), und AS (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT dst, src FROM edges
        ), f0 AS (
            SELECT DISTINCT src AS node FROM edges
            WHERE src % {_BFS_SEED_MOD} = 0
        ), v0 AS (
            SELECT node, 0 AS depth FROM f0
        )"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f""", f{i} AS (
            SELECT DISTINCT u.dst AS node
            FROM und u JOIN f{i - 1} ON u.src = f{i - 1}.node
            WHERE u.dst NOT IN (SELECT node FROM v{i - 1})
        ), v{i} AS (
            SELECT node, depth FROM v{i - 1}
            UNION ALL
            SELECT node, {i} FROM f{i}
        )"""
        )
    parts.append(f"""
        SELECT node, depth FROM v{k}""")
    return "".join(parts)


@register("graph_bfs_loop", oracle=_bfs_loop_oracle(_BFS_LOOP_DEPTH))
def graph_bfs_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-graph: the FULL BFS traversal loop — K={_BFS_LOOP_DEPTH} frontier
    expansions of ``graph_bfs_step``'s verified semi/anti-join algebra
    over the undirected supplier–part graph, unrolled with per-iteration
    ``persist()`` on the frontier AND the visited ledger (the
    ``graph_pagerank_loop`` discipline: each iteration's anti-join reads
    the ledger, so an unpinned chain re-executes O(K²)).  Completes the
    loop tier's traversal corner (pagerank/kcore/label-prop/hits/kmeans/
    pca/platt/gmm already loop).

    Spark-first: per depth, one equi-join shuffle (frontier ⋈ und on src)
    + one distinct + one anti-join against the visited ledger; all exact
    integer identity, no arithmetic, so the chained-CTE oracle is
    bit-identical by construction.  At 100 TB each expansion is Pregel's
    per-superstep cost (|frontier-adjacent edges| shuffled); the visited
    ledger is node-bounded, and the anti-join stays a shuffle join (a
    broadcast hint would be wrong — by depth 3 the ledger can approach
    |V|)."""
    edges = _pagerank_edges(spark, sf_dir)
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    frontier = (
        edges.where(F.col("src") % _BFS_SEED_MOD == 0)
        .select(F.col("src").alias("node"))
        .distinct()
        .persist()
    )
    visited = frontier.select("node", F.lit(0).alias("depth")).persist()
    for depth in range(1, _BFS_LOOP_DEPTH + 1):
        frontier = (
            und.join(frontier, und["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .persist()
        )
        visited = visited.unionByName(
            frontier.select("node", F.lit(depth).alias("depth"))
        ).persist()
    return visited


@register(
    "graph_hits_step",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS src, l_partkey + {_DST_OFF} AS dst
            FROM lineitem
        ), indeg AS (
            SELECT dst AS id, CAST(COUNT(*) AS BIGINT) AS araw
            FROM edges GROUP BY dst
        ), na AS (
            SELECT {sql_dround("SQRT(CAST(SUM(araw * araw) AS DOUBLE))")} AS norm_a
            FROM indeg
        ), auth AS (
            SELECT id, {sql_dround("araw / norm_a")} AS auth
            FROM indeg CROSS JOIN na
        ), hubraw AS (
            SELECT e.src AS id,
                   {sql_exact_double("SUM(" + sql_dec_cast("a.auth") + ")")} AS hraw
            FROM edges e JOIN auth a ON e.dst = a.id
            GROUP BY e.src
        ), nh AS (
            SELECT {sql_dround(
                "SQRT(" + sql_exact_double("SUM(" + sql_dec_cast("hraw * hraw") + ")") + ")"
            )} AS norm_h
            FROM hubraw
        ), hub AS (
            SELECT id, {sql_dround("hraw / norm_h")} AS hub
            FROM hubraw CROSS JOIN nh
        )
        SELECT COALESCE(a.id, h.id) AS node_id,
               COALESCE(a.auth, CAST(0.0 AS DOUBLE)) AS auth,
               COALESCE(h.hub, CAST(0.0 AS DOUBLE)) AS hub
        FROM auth a FULL OUTER JOIN hub h ON a.id = h.id
    """,
)
def graph_hits_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One HITS (hubs-and-authorities) iteration on the supplier→part
    bipartite graph from uniform hub init — the link-analysis companion
    to ``graph_pagerank_step`` (same verify-the-step/induct-on-the-loop
    thesis; ⟨pub⟩ Kleinberg 1999).  Authority update from h≡1 is the
    in-degree, L2-normalized; the hub update propagates those normalized
    authorities back across the edge join and L2-normalizes again.

    Shape: two linear shuffles (in-degree agg; src regroup after an
    equi-join against the broadcastable authority table) — never
    adjacency-matrix materialization.  Each L2 norm is a 1-row aggregate
    of the SMALL per-node table cross-joined back (the pagerank-step
    convention).  Determinism: in-degrees are exact ints, both norms and
    every score round 6 dp, score sums ride the decimal path."""
    li = load(spark, sf_dir, "lineitem")
    # every stage below feeds TWO consumers (norm agg + score map, score
    # + final join): without pinning, the subtree re-plans 2^4 times (8
    # corpus scans measured).  edges/indeg/hubraw are edge- and
    # node-bounded — the persisted-edge-list convention (graph_bfs_step).
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + _DST_OFF).alias("dst"),
    ).distinct().persist()
    indeg = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("araw")
    ).persist()
    na = indeg.agg(
        dround(F.sqrt(F.sum(F.col("araw") * F.col("araw")).cast("double"))).alias(
            "norm_a"
        )
    )
    auth = indeg.crossJoin(F.broadcast(na)).select(
        "id", dround(F.col("araw") / F.col("norm_a")).alias("auth")
    )
    hubraw = (
        edges.join(auth, edges.dst == auth.id)
        .groupBy(F.col("src").alias("hid"))
        .agg(exact_double(F.sum(dec_cast("auth"))).alias("hraw"))
        .persist()
    )
    nh = hubraw.agg(
        dround(
            F.sqrt(exact_double(F.sum(dec_cast(F.col("hraw") * F.col("hraw")))))
        ).alias("norm_h")
    )
    hub = hubraw.crossJoin(F.broadcast(nh)).select(
        "hid", dround(F.col("hraw") / F.col("norm_h")).alias("hub")
    )
    return auth.join(hub, auth.id == hub.hid, "full_outer").select(
        F.coalesce(F.col("id"), F.col("hid")).alias("node_id"),
        F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
        F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
    )


_HITS_ROUNDS = 3  # unrolled auth+hub rounds (the loop convention)


def _hits_loop_oracle(rounds: int) -> str:
    """Chained-CTE oracle for K unrolled HITS rounds — each round is the
    verified step's auth update + hub update with the SAME decimal-path
    sums and 6 dp rounds, fed the previous round's hub vector."""
    dsum_auth = sql_exact_double("SUM(" + sql_dec_cast("a.auth") + ")")
    dsum_hub = sql_exact_double("SUM(" + sql_dec_cast("h.hub") + ")")
    norm = lambda col: sql_dround(  # noqa: E731
        "SQRT("
        + sql_exact_double("SUM(" + sql_dec_cast(f"{col} * {col}") + ")")
        + ")"
    )
    parts = [
        f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS src, l_partkey + {_DST_OFF} AS dst
            FROM lineitem
        ), hub0 AS (
            SELECT DISTINCT src AS id, CAST(1.0 AS DOUBLE) AS hub FROM edges
        )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", ar{i} AS (
            SELECT e.dst AS id, {dsum_hub} AS araw
            FROM edges e JOIN hub{i - 1} h ON e.src = h.id
            GROUP BY e.dst
        ), na{i} AS (
            SELECT {norm("araw")} AS norm_a FROM ar{i}
        ), auth{i} AS (
            SELECT id, {sql_dround("araw / norm_a")} AS auth
            FROM ar{i} CROSS JOIN na{i}
        ), hr{i} AS (
            SELECT e.src AS id, {dsum_auth} AS hraw
            FROM edges e JOIN auth{i} a ON e.dst = a.id
            GROUP BY e.src
        ), nh{i} AS (
            SELECT {norm("hraw")} AS norm_h FROM hr{i}
        ), hub{i} AS (
            SELECT id, {sql_dround("hraw / norm_h")} AS hub
            FROM hr{i} CROSS JOIN nh{i}
        )"""
        )
    parts.append(
        f"""
        SELECT COALESCE(a.id, h.id) AS node_id,
               COALESCE(a.auth, CAST(0.0 AS DOUBLE)) AS auth,
               COALESCE(h.hub, CAST(0.0 AS DOUBLE)) AS hub
        FROM auth{rounds} a FULL OUTER JOIN hub{rounds} h ON a.id = h.id"""
    )
    return "".join(parts)


@register("graph_hits_loop", oracle=_hits_loop_oracle(_HITS_ROUNDS))
def graph_hits_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-graph: the FULL HITS loop — {_HITS_ROUNDS} unrolled rounds of
    ``graph_hits_step``'s verified auth+hub update on the supplier→part
    bipartite graph, from uniform hub init.  Each round: authority =
    L2-normalized in-neighbor hub sum, hub = L2-normalized out-neighbor
    authority sum — two linear shuffles per round, norms as 1-row
    broadcast aggregates of node-bounded tables, every float riding the
    decimal-path/6 dp discipline so the chain hashes bit-identically.
    Per-stage pinning of the raw-score tables (each feeds its norm AND
    its normalize — the step's 2^stages re-plan lesson, compounded by
    unrolling): ``ar`` persists; the round-final ``hr`` takes a LAZY
    ``localCheckpoint`` instead, which truncates the lineage once per
    round — r8's all-persist form nested InMemoryRelations 6 deep and
    the printed plan inflated to 140k lines / 22k Exchange mentions
    (unauditable, though the EXECUTED work was fine); the hybrid prints
    ~400 lines / 34 mentions at identical wall time (A/B'd at sf0.1:
    4.2 s both).  Values are materialized identically, so the driver
    hash is unchanged.  The oracle unrolls the same rounds as chained
    CTEs.  On the bipartite graph the fixed point is the principal
    singular vector pair of the biadjacency matrix; 3 rounds from
    uniform get visibly past the in-degree first step (pinned in
    pytest)."""
    edges = _pagerank_edges(spark, sf_dir)
    hub = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "hub", F.lit(1.0)
    )
    auth = None
    for _ in range(_HITS_ROUNDS):
        ar = (
            edges.join(hub, edges.src == hub.id)
            .groupBy(F.col("dst").alias("aid"))
            .agg(exact_double(F.sum(dec_cast("hub"))).alias("araw"))
            .persist()
        )
        na = ar.agg(
            dround(
                F.sqrt(exact_double(F.sum(dec_cast(F.col("araw") * F.col("araw")))))
            ).alias("norm_a")
        )
        auth = ar.crossJoin(F.broadcast(na)).select(
            F.col("aid").alias("id"), dround(F.col("araw") / F.col("norm_a")).alias("auth")
        )
        hr = (
            edges.join(auth, edges.dst == auth.id)
            .groupBy(F.col("src").alias("hid"))
            .agg(exact_double(F.sum(dec_cast("auth"))).alias("hraw"))
            .localCheckpoint(eager=False)  # truncate lineage per round
        )
        nh = hr.agg(
            dround(
                F.sqrt(exact_double(F.sum(dec_cast(F.col("hraw") * F.col("hraw")))))
            ).alias("norm_h")
        )
        hub = hr.crossJoin(F.broadcast(nh)).select(
            F.col("hid").alias("id"), dround(F.col("hraw") / F.col("norm_h")).alias("hub")
        )
    return auth.join(hub, auth.id == hub.id, "full_outer").select(
        F.coalesce(auth.id, hub.id).alias("node_id"),
        F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
        F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
    )


@register(
    "graph_label_prop_step",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS src, l_partkey + {_DST_OFF} AS dst
            FROM lineitem
        ), seeds AS (
            SELECT s_suppkey AS src, CAST(s_nationkey AS BIGINT) AS label
            FROM supplier
        ), votes AS (
            SELECT e.dst, s.label, CAST(COUNT(*) AS BIGINT) AS n_votes
            FROM edges e JOIN seeds s ON e.src = s.src
            GROUP BY e.dst, s.label
        ), ranked AS (
            SELECT dst, label, n_votes,
                   CAST(SUM(n_votes) OVER (PARTITION BY dst) AS BIGINT)
                       AS n_nbrs,
                   ROW_NUMBER() OVER (PARTITION BY dst
                                      ORDER BY n_votes DESC, label ASC) AS rn
            FROM votes
        )
        SELECT dst AS node_id, label, n_votes, n_nbrs
        FROM ranked WHERE rn = 1
    """,
)
def graph_label_prop_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One community/label-propagation step on the supplier→part graph:
    every part adopts the MODE of its neighboring suppliers' nation
    labels (ties → smallest label) — the semi-supervised companion to
    ``dedup_clusters``' min-label CC (min is merge-happy; the mode vote
    is what LPA community detection and weak-label spreading actually
    use).  Verify-the-step / induct-on-the-loop, like the
    pagerank/HITS/kmeans steps.

    Shape: seed labels broadcast-join onto the edge list, one
    (dst, label) vote count, then the argmax and the neighbor total
    ride ONE dst window partitioning (row_number + same-window SUM) —
    two linear shuffles total, integer-exact everything."""
    li = load(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + _DST_OFF).alias("dst"),
    ).distinct()
    seeds = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("src"),
        F.col("s_nationkey").cast("long").alias("label"),
    )
    votes = (
        edges.join(F.broadcast(seeds), "src")
        .groupBy("dst", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_votes"))
    )
    w_d = Window.partitionBy("dst")
    ranked = votes.select(
        "dst",
        "label",
        "n_votes",
        F.sum("n_votes").over(w_d).cast("long").alias("n_nbrs"),
        F.row_number()
        .over(w_d.orderBy(F.col("n_votes").desc(), F.col("label").asc()))
        .alias("rn"),
    )
    return ranked.where(F.col("rn") == 1).select(
        F.col("dst").alias("node_id"), "label", "n_votes", "n_nbrs"
    )


_KCORE_K = 3


@register(
    "graph_kcore_step",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS src, l_partkey + {_DST_OFF} AS dst
            FROM lineitem
        ), und AS (
            SELECT src AS u, dst AS v FROM edges
            UNION ALL
            SELECT dst, src FROM edges
        ), deg AS (
            SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY u
        ), alive AS (
            SELECT u, d FROM deg WHERE d >= {_KCORE_K}
        ), surv AS (
            SELECT e.u, e.v FROM und e
            JOIN alive a ON e.u = a.u
            JOIN alive b ON e.v = b.u
        ), after AS (
            SELECT u, CAST(COUNT(*) AS BIGINT) AS d2 FROM surv GROUP BY u
        )
        SELECT a.u AS node_id, a.d AS deg_before,
               COALESCE(f.d2, 0) AS deg_after,
               CAST(COALESCE(f.d2, 0) >= {_KCORE_K} AS INT) AS still_core
        FROM alive a LEFT JOIN after f ON a.u = f.u
    """,
)
def graph_kcore_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-core peel iteration (k = {_KCORE_K}) on the undirected
    supplier↔part graph: drop every node of degree < k, recount degrees
    on the induced subgraph, and flag which survivors already satisfy
    the core condition — the verified induction step of core
    decomposition (the standard graph-density screen before community /
    influence work; iterate to fixpoint exactly like dedup_clusters).

    Shape: degree agg → broadcastable alive set → two semi-join-style
    filters of the edge list → recount.  The edge list is persisted
    (three consumers — the graph-module convention); everything else is
    two linear shuffles, exact integers throughout."""
    li = load(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            F.col("l_suppkey").alias("src"),
            (F.col("l_partkey") + _DST_OFF).alias("dst"),
        )
        .distinct()
        .persist()
    )
    und = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d")).persist()
    alive = deg.where(F.col("d") >= _KCORE_K)
    surv = (
        und.join(F.broadcast(alive.select("u")), "u")
        .join(
            F.broadcast(alive.select(F.col("u").alias("v"))),
            "v",
        )
    )
    after = surv.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d2"))
    return (
        alive.join(after, "u", "left")
        .select(
            F.col("u").alias("node_id"),
            F.col("d").alias("deg_before"),
            F.coalesce(F.col("d2"), F.lit(0)).alias("deg_after"),
            (F.coalesce(F.col("d2"), F.lit(0)) >= _KCORE_K)
            .cast("int")
            .alias("still_core"),
        )
    )


_LPA_ROUNDS = 3  # alternating bipartite half-steps: parts, suppliers, parts


def _lpa_loop_oracle(rounds: int) -> str:
    """Chained-CTE oracle for K alternating label-propagation rounds
    (odd rounds: parts vote from supplier labels; even rounds: suppliers
    re-vote from part labels, keeping their seed on no votes)."""
    parts = [
        f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS src, l_partkey + {_DST_OFF} AS dst
            FROM lineitem
        ), s0 AS (
            SELECT s_suppkey AS node, CAST(s_nationkey AS BIGINT) AS label
            FROM supplier
        )"""
    ]
    sup, par = "s0", None
    for r in range(1, rounds + 1):
        if r % 2 == 1:
            parts.append(
                f""", v{r} AS (
            SELECT e.dst AS node, s.label, CAST(COUNT(*) AS BIGINT) AS n
            FROM edges e JOIN {sup} s ON e.src = s.node
            GROUP BY e.dst, s.label
        ), p{r} AS (
            SELECT node, label FROM (
                SELECT node, label,
                       ROW_NUMBER() OVER (PARTITION BY node
                                          ORDER BY n DESC, label ASC) AS rn
                FROM v{r}
            ) WHERE rn = 1
        )"""
            )
            par = f"p{r}"
        else:
            parts.append(
                f""", v{r} AS (
            SELECT e.src AS node, p.label, CAST(COUNT(*) AS BIGINT) AS n
            FROM edges e JOIN {par} p ON e.dst = p.node
            GROUP BY e.src, p.label
        ), m{r} AS (
            SELECT node, label FROM (
                SELECT node, label,
                       ROW_NUMBER() OVER (PARTITION BY node
                                          ORDER BY n DESC, label ASC) AS rn
                FROM v{r}
            ) WHERE rn = 1
        ), s{r} AS (
            SELECT s.node, COALESCE(m.label, s.label) AS label
            FROM s0 s LEFT JOIN m{r} m ON s.node = m.node
        )"""
            )
            sup = f"s{r}"
    parts.append(
        f"""
        SELECT node AS node_id, 'supplier' AS side, label FROM {sup}
        UNION ALL
        SELECT node AS node_id, 'part' AS side, label FROM {par}"""
    )
    return "".join(parts)


@register("graph_label_prop_loop", oracle=_lpa_loop_oracle(_LPA_ROUNDS))
def graph_label_prop_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-graph: the FULL label-propagation loop — {_LPA_ROUNDS} alternating
    half-steps of ``graph_label_prop_step``'s verified mode vote on the
    bipartite supplier↔part graph (odd rounds: parts adopt the mode of
    their suppliers' labels; even rounds: suppliers re-vote from their
    parts', keeping their nation seed when voteless), emitting every
    node's final label.  This IS synchronous LPA on a bipartite graph —
    each full sweep decomposes into the two one-sided votes.

    Per-round ``persist()`` of the O(nodes) label table (the
    ``graph_pagerank_loop`` convention); each half-step is one
    broadcast/equi join of labels onto the edge list + one (node, label)
    vote count + the argmax-and-total over ONE node window — two linear
    shuffles, exact integers, ties broken (votes desc, label asc) so the
    loop is deterministic on both engines."""
    edges = _pagerank_edges(spark, sf_dir)
    seeds = (
        load(spark, sf_dir, "supplier")
        .select(
            F.col("s_suppkey").alias("node"),
            F.col("s_nationkey").cast("long").alias("label"),
        )
        .persist()
    )

    def mode_vote(pairs: DataFrame) -> DataFrame:
        votes = pairs.groupBy("node", "label").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        w = Window.partitionBy("node").orderBy(F.col("n").desc(), F.col("label").asc())
        return (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "label")
        )

    sup, par = seeds, None
    for r in range(1, _LPA_ROUNDS + 1):
        if r % 2 == 1:
            lbl = sup.select(F.col("node").alias("src"), "label")
            par = mode_vote(
                edges.join(F.broadcast(lbl), "src").select(
                    F.col("dst").alias("node"), "label"
                )
            ).persist()
        else:
            lbl = par.select(F.col("node").alias("dst"), "label")
            voted = mode_vote(
                edges.join(F.broadcast(lbl), "dst").select(
                    F.col("src").alias("node"), "label"
                )
            )
            sup = (
                seeds.alias("s")
                .join(voted.alias("m"), "node", "left")
                .select(
                    "node",
                    F.coalesce(F.col("m.label"), F.col("s.label")).alias("label"),
                )
                .persist()
            )
    return sup.select(
        F.col("node").alias("node_id"), F.lit("supplier").alias("side"), "label"
    ).unionByName(
        par.select(F.col("node").alias("node_id"), F.lit("part").alias("side"), "label")
    )


_KCORE_PEELS = 3  # unrolled peel iterations (fixed K — the loop convention)


def _kcore_loop_oracle(peels: int) -> str:
    """Chained-CTE oracle for K unrolled k-core peels (the
    ``graph_pagerank_loop`` convention; exact integers throughout).
    k is DATA-DERIVED — the lower-median degree — so the peel bites at
    every fixture grain (any fixed literal is vacuous at one grain and
    a wipe-out at another: measured min degree 8 at sf0.001 vs 13 at
    sf0.01)."""
    parts = [
        f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS src, l_partkey + {_DST_OFF} AS dst
            FROM lineitem
        ), und AS (
            SELECT src AS u, dst AS v FROM edges
            UNION ALL SELECT dst, src FROM edges
        ), d1 AS (
            SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY u
        ), med AS (
            SELECT d AS k FROM (
                SELECT d, ROW_NUMBER() OVER (ORDER BY d, u) AS rn,
                       CAST(COUNT(*) OVER () AS BIGINT) AS n
                FROM d1
            ) WHERE rn = (n + 1) // 2
        ), a1 AS (
            SELECT u FROM d1 CROSS JOIN med WHERE d >= k
        )"""
    ]
    for i in range(2, peels + 1):
        parts.append(
            f""", s{i} AS (
            SELECT e.u, e.v FROM und e
            JOIN a{i - 1} x ON e.u = x.u
            JOIN a{i - 1} y ON e.v = y.u
        ), d{i} AS (
            SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM s{i} GROUP BY u
        ), a{i} AS (
            SELECT u FROM d{i} CROSS JOIN med WHERE d >= k
        )"""
        )
    parts.append(
        f"""
        SELECT u AS node_id, d AS deg, k
        FROM d{peels} CROSS JOIN med WHERE d >= k"""
    )
    return "".join(parts)


@register("graph_kcore_loop", oracle=_kcore_loop_oracle(_KCORE_PEELS))
def graph_kcore_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-graph: the FULL k-core peel — {_KCORE_PEELS} unrolled iterations
    of ``graph_kcore_step``'s verified peel on the undirected
    supplier↔part graph, emitting the survivors and their INDUCED
    degrees after the last peel.  k is the lower-median degree (exact
    integer selection, (votes, id)-ordered) rather than a literal: a
    fixed k is vacuous at one fixture grain and a wipe-out at another
    (measured), while the median peels ~45% of nodes at every grain —
    so the induced-degree recount is genuinely exercised.

    Per-iteration ``persist()`` of the O(nodes) degree table (alive is a
    cheap filter of the cache — persisting only the alive set re-plans
    the final degree subtree into both its consumers); each peel is one
    induced-subgraph filter (two equi-joins against the alive set) + one
    degree hash-agg — two linear shuffles, exact integers, per-peel cost
    O(|E_alive|) monotonically shrinking at 100 TB.  The median rides
    one global window over the BOUNDED degree table (never the corpus)
    and broadcasts as a 1-row scalar.  The oracle unrolls the same peels
    as chained CTEs."""
    edges = _pagerank_edges(spark, sf_dir)
    und = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d")).persist()
    wq = Window.orderBy("d", "u")
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    med = (
        deg.select(
            "d",
            F.row_number().over(wq).alias("rn"),
            F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        )
        .where(F.col("rn") == F.shiftright(F.col("n") + 1, 1))
        .select(F.col("d").alias("k"))
        .persist()
    )
    for _ in range(_KCORE_PEELS - 1):
        alive = (
            deg.crossJoin(F.broadcast(med)).where(F.col("d") >= F.col("k")).select("u")
        )
        surv = und.join(F.broadcast(alive), "u").join(
            F.broadcast(alive.select(F.col("u").alias("v"))), "v"
        )
        deg = (
            surv.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d")).persist()
        )
    return (
        deg.crossJoin(F.broadcast(med))
        .where(F.col("d") >= F.col("k"))
        .select(F.col("u").alias("node_id"), F.col("d").alias("deg"), "k")
    )


@register(
    "graph_assortativity",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS src, l_partkey + {_DST_OFF} AS dst
            FROM lineitem
        ), und AS (
            SELECT src AS u, dst AS v FROM edges
            UNION ALL SELECT dst, src FROM edges
        ), deg AS (
            SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY u
        ), ends AS (
            SELECT du.d AS dx, dv.d AS dy
            FROM und e JOIN deg du ON e.u = du.u JOIN deg dv ON e.v = dv.u
        ), m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(dx) AS BIGINT) AS sx,
                   CAST(SUM(dy) AS BIGINT) AS sy,
                   CAST(SUM(dx * dx) AS BIGINT) AS sxx,
                   CAST(SUM(dy * dy) AS BIGINT) AS syy,
                   CAST(SUM(dx * dy) AS BIGINT) AS sxy
            FROM ends
        )
        SELECT CAST(n / 2 AS BIGINT) AS n_edges,
               {sql_dround(
                   "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
                   " / NULLIF(SQRT("
                   "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
                   " * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),"
                   " CAST(0.0 AS DOUBLE))"
               )} AS assortativity
        FROM m
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the supplier↔part graph — the Pearson
    correlation of endpoint degrees over all directed edge stubs
    (Newman): negative = hubs attach to leaves (typical bipartite /
    infrastructural graphs), positive = rich-club mixing.  The one graph
    summary that says whether degree-targeted sampling or pruning will
    cascade.

    Shape: degree agg (persisted edges via the module convention is
    unnecessary here — one linear reuse), two broadcast degree joins
    onto the stub list, one integer-moment reduction; the correlation
    is a single 6 dp IEEE chain on exact integer sums."""
    li = load(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + _DST_OFF).alias("dst"),
    ).distinct().persist()
    und = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d")).persist()
    ends = (
        und.join(F.broadcast(deg.select(F.col("u"), F.col("d").alias("dx"))), "u")
        .join(
            F.broadcast(
                deg.select(F.col("u").alias("v"), F.col("d").alias("dy"))
            ),
            "v",
        )
        .select("dx", "dy")
    )
    m = ends.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
    )
    n = F.col("n").cast("double")
    r = (n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / F.nullif(
        F.sqrt(
            (n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
            * (n * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
        ),
        F.lit(0.0),
    )
    return m.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        dround(r).alias("assortativity"),
    )


_BIPROJ_MIN_SHARED = 3
_BIPROJ_HUB_CAP = 64  # per-part degree cap — drop super-connector parts


@register(
    "join_bipartite_projection",
    oracle=f"""
        WITH edges AS (
            SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
        ), capped AS (
            SELECT s, p FROM (
                SELECT s, p, COUNT(*) OVER (PARTITION BY p) AS pdeg
                FROM edges
            ) WHERE pdeg <= {_BIPROJ_HUB_CAP}
        ), pairs AS (
            SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
            FROM capped a JOIN capped b ON a.p = b.p AND a.s < b.s
            GROUP BY a.s, b.s
        )
        SELECT s1, s2, shared
        FROM pairs WHERE shared >= {_BIPROJ_MIN_SHARED}
    """,
)
def join_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection — suppliers linked by the parts they share,
    weighted by co-occurrence count (≥ {_BIPROJ_MIN_SHARED}): the
    co-purchase/co-engagement substrate every collaborative-filtering
    and entity-linking pipeline builds first.  Pairs form per part via
    a self-equi-join on the part key with s1 < s2.  A single hub part of
    degree d contributes d²/2 pairs, so super-connector parts (degree >
    {_BIPROJ_HUB_CAP}) are DROPPED before pairing — the df-cap
    convention ``dedup_ngram_dfcap`` / ``graph_link_prediction`` use:
    co-membership in a universally-shared container carries no
    similarity signal, and the cap is what bounds the self-join fan-out
    at 100 TB.  The degree is a COUNT window over the same part key the
    join shuffles on (no agg + join-back branch duplication); the cap
    predicate sits under the pairing join on both engines.  One
    distinct pass + one windowed filter + one equi-join + one pair
    count; exact integers.

    r12 negative results (interleaved A/B, sf0.1, recorded so the next
    round doesn't re-try): (a) per-part sorted-array pair EXPLODE (the
    graph_link_prediction move) is 0.7 s/pass slower warm here — the
    collect_list + nested-transform allocation exceeds the duplicated
    subtree + BHJ probe cost at this fan-in, though it is ~6 s faster
    cold; (b) ``capped.persist()`` is 3–4× slower (the InMemoryRelation
    hides size stats, demoting the pairing BHJ to SMJ)."""
    li = load(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    capped = (
        edges.withColumn("pdeg", F.count(F.lit(1)).over(Window.partitionBy("p")))
        .where(F.col("pdeg") <= _BIPROJ_HUB_CAP)
        .drop("pdeg")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    pairs = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    return pairs.where(F.col("shared") >= _BIPROJ_MIN_SHARED)
