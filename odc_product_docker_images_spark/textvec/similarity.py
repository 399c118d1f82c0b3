"""Similarity search (SURVEY.md §2.10 X3).

Brute-force cosine top-k as the exact baseline, LSH-bucketed ANN as the
scale path.  The pair math runs where it is dense: each exact kernel and
each ANN bucket verify is one BLAS block per cogroup cell or bucket, in
Arrow Python stages (``mapInArrow`` / ``applyInArrow``) that read the
float32 embeddings as numpy views over the Arrow buffers
(``_unit_rows``).  The pure-expression variants (``sim_topk_cosine_expr``,
``sim_label_knn``, ``sim_matryoshka_prefix``) keep the math in JVM-side
array expressions (``zip_with`` + ``aggregate`` fold).

Scale notes (100 TB of vectors): the brute-force pair join is O(n²) and
exists as the correctness baseline + re-ranker.  The ANN path buckets by
random hyperplane projections of the L2-normalized vectors (the sign of a
projection is the cosine-LSH bit) so candidate generation is an
equi-group on bucket ids — the same banding trick as MinHash.  An IVF
variant is the same shape with learned centroids as buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import fanout, load, table_rows
from ..registry import register
from .pipeline import _AUDIT_N0_VEC, sql_audit_gate


def dot(l: Column, r: Column) -> Column:  # noqa: E741
    """Σ lᵢ·rᵢ as a sequential fold — deterministic order, double accum."""
    return F.aggregate(
        F.zip_with(l, r, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_norm(em: DataFrame) -> DataFrame:
    return em.select(
        "vec_id", "embedding", F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm")
    )


def _unit_rows(col):
    """float64 unit rows of an Arrow ``list<float>`` column of one
    dimension: one numpy view over the values buffer (sliced by the list
    offsets), widened and row-normalized — no per-row Python objects."""
    import numpy as np

    if hasattr(col, "combine_chunks"):  # a Table column
        col = col.combine_chunks()
    off = col.offsets.to_numpy()
    X = col.values.to_numpy()[off[0] : off[-1]].astype(np.float64).reshape(len(col), -1)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    return X


@register(
    "sim_topk_cosine",
    oracle="""
        WITH n AS (
            SELECT vec_id,
                   LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ), p AS (
            SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
                   LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> a.e[i] * b.e[i]))
                     / (a.nrm * b.nrm) AS cos
            FROM n a JOIN n b ON a.vec_id != b.vec_id
        ), r AS (
            SELECT vec_id, nbr_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, nbr_id) AS rn
            FROM p
        )
        SELECT vec_id, nbr_id, ROUND(cos, 6) AS cosine
        FROM r WHERE rn <= 5
    """,
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 baseline: exact top-5 cosine neighbors per vector as a
    block-partitioned matrix product — the fully distributed brute-force
    kNN.  The index is split into B blocks (``vec_id % B``) and replicated
    to P query partitions; queries are exploded across the B blocks; each
    (qpart, block) cell is one ``cogroup().applyInArrow`` task doing a
    single BLAS matmul + every query's top-5 in one row-wise lexsort; a
    final window merges the per-block candidates (exact: every true global top-5 neighbor is in
    its own block's top-5).

    Nothing touches the driver: both replications ride the cogroup
    shuffle, (B+P)·n rows total instead of an n-row driver broadcast —
    at the 100 TB tier B and P scale so a cell (n/P queries × n/B index
    vectors) fits one executor; the exact all-pairs communication is
    inherent to brute force, the ANN path (sim_ann_lsh) is the sub-linear
    alternative.  Ties at the top-5 boundary are broken (cos desc,
    nbr_id asc) by a FULL lexsort per query row and again by the merge
    window, so equal-cosine candidates can't be dropped arbitrarily, and
    corpora with <6 vectors emit however many neighbors exist.

    ADAPTIVE BLOCK GRID (r9, the dedup_embedding fix): B and P scale
    with the vector count so a cell's dense product stays ~64 MB — the
    fixed 4×8 grid materialized multi-GB per-cell matrices at the 100×
    fixture.  Any grid yields the same exact result (per-block top-5 ∪
    merge window); the sizing count() is metadata-only."""
    import math

    import numpy as np
    import pyarrow as pa

    em = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # r13 (guide §5): grid sizing from parquet footers — same integer as
    # em.count(), no Spark job (the count was ~0.2 s of this headline key)
    n = table_rows(sf_dir, "embeddings")
    P = max(8, math.ceil(n / 2048))
    B = max(4, math.ceil(n / 4096))
    # separate scan for the index side — cogroup children sharing one base
    # plan can lose the right side's data columns to attribute dedup
    # (see dedup_embedding for the full mechanics)
    em_i = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = em.withColumn("qpart", F.pmod("vec_id", F.lit(P)).cast("int")).withColumn(
        "block", F.explode(F.sequence(F.lit(0), F.lit(B - 1)))
    )
    idx = em_i.withColumn("block", F.pmod("vec_id", F.lit(B)).cast("int")).withColumn(
        "qpart", F.explode(F.sequence(F.lit(0), F.lit(P - 1)))
    )

    out = pa.schema([("vec_id", pa.int64()), ("nbr_id", pa.int64()), ("cos", pa.float64())])

    def topk_block(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return out.empty_table()
        q_ids = left.column("vec_id").to_numpy()
        b_ids = right.column("vec_id").to_numpy()
        C = _unit_rows(left.column("embedding")) @ _unit_rows(right.column("embedding")).T
        C[np.equal.outer(q_ids, b_ids)] = -np.inf  # exclude self
        # every query's (cos desc, nbr_id asc) order in one lexsort
        order = np.lexsort((np.broadcast_to(b_ids, C.shape), -C), axis=1)[:, :5]
        top = np.take_along_axis(C, order, axis=1)
        keep = top != -np.inf
        return pa.table(
            {
                "vec_id": np.broadcast_to(q_ids[:, None], order.shape)[keep],
                "nbr_id": b_ids[order][keep],
                "cos": top[keep],
            },
            schema=out,
        )

    cand = (
        q.groupBy("qpart", "block")
        .cogroup(idx.groupBy("qpart", "block"))
        .applyInArrow(topk_block, schema="vec_id long, nbr_id long, cos double")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("vec_id", "nbr_id", F.round("cos", 6).alias("cosine"))
    )


@register(
    "sim_topk_cosine_expr",
    oracle="""
        WITH n AS (
            SELECT vec_id,
                   LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ), p AS (
            SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
                   LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> a.e[i] * b.e[i]))
                     / (a.nrm * b.nrm) AS cos
            FROM n a JOIN n b ON a.vec_id != b.vec_id
        ), r AS (
            SELECT vec_id, nbr_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, nbr_id) AS rn
            FROM p
        )
        SELECT vec_id, nbr_id, ROUND(cos, 6) AS cosine
        FROM r WHERE rn <= 5
    """,
)
def sim_topk_cosine_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 pure-expression variant: repartitioned probe side × broadcast
    index, cosine as a zip_with fold, window top-k.  Everything stays in
    JVM codegen — the fallback when Arrow/pandas is unavailable."""
    n = with_norm(load(spark, sf_dir, "embeddings"))
    a = n.repartition(fanout(spark)).alias("a")
    b = F.broadcast(n).alias("b")
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (F.col("a.nrm") * F.col("b.nrm"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    return (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("nbr_id"),
            cos.alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("vec_id", "nbr_id", F.round("cos", 6).alias("cosine"))
    )


_LSH_R, _LSH_H = 4, 14  # sign bits per table × hash tables
_LSH_SEED = 42


def _lsh_bucket_batches(batches):
    """One Arrow pass: H·R random-hyperplane projections of the unit rows
    as ONE BLAS matmul per batch → R sign bits per table packed to a
    bucket id; emits (vec_id, table, bucket, embedding), the raw float32
    embedding taken H times (``bucket_pairs`` normalizes its own rows).
    The planes are regenerated from the fixed seed in every task — model
    metadata, like IVF's centroid literals, never shipped as data."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(_LSH_SEED)
    planes = None
    shifts = 1 << np.arange(_LSH_R)
    tables = np.arange(_LSH_H, dtype=np.int32)
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        emb = batch.column("embedding")
        X = _unit_rows(emb)
        if planes is None:
            planes = rng.standard_normal((_LSH_H * _LSH_R, X.shape[1]))
        bits = (X @ planes.T) > 0
        buckets = (bits.reshape(n, _LSH_H, _LSH_R) * shifts).sum(axis=2)
        rows = np.repeat(np.arange(n), _LSH_H)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("vec_id").take(rows),
                pa.array(np.tile(tables, n)),
                pa.array(buckets.reshape(-1).astype(np.int32)),
                emb.take(rows),
            ],
            names=["vec_id", "table", "bucket", "embedding"],
        )


def bucket_pairs(tbl):
    """Exact-cosine verify of one ANN bucket (``sim_ann_lsh``'s (table,
    bucket) cells, ``sim_ann_ivf``'s probe buckets), an ``applyInArrow``
    kernel: ``(vec_id, embedding)`` rows in, every (vec_a < vec_b) pair
    with cos ≥ 0.4 out, as one dense BLAS block per chunk."""
    import numpy as np
    import pyarrow as pa

    out_a, out_b, out_c = [], [], []
    if tbl.num_rows >= 2:
        ids = tbl.column("vec_id").to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        M = _unit_rows(tbl.column("embedding"))[order]
        # CHUNKED verify (r9): a hot bucket on a big corpus made the full
        # n×n product multi-GB per task and the worker OOM'd at the 100×
        # fixture (kernel-killed, 10.7 GB RSS).  Chunk the query rows so
        # the dense block stays ~64 MB; each output cell is an
        # independent dot product, so results are bit-identical.
        step = max(1, (8 << 20) // len(ids))
        for s in range(0, len(ids), step):
            C = M[s : s + step] @ M.T
            i, j = np.nonzero(C >= 0.4)
            keep = j > (i + s)  # ids sorted → global row < col ⇔ vec_a < vec_b
            out_a.append(ids[i[keep] + s])
            out_b.append(ids[j[keep]])
            out_c.append(C[i[keep], j[keep]])
    return pa.table(
        {
            "vec_a": np.concatenate(out_a) if out_a else [],
            "vec_b": np.concatenate(out_b) if out_b else [],
            "cos": np.concatenate(out_c) if out_c else [],
        },
        schema=pa.schema([("vec_a", pa.int64()), ("vec_b", pa.int64()), ("cos", pa.float64())]),
    )


@register("sim_ann_lsh")  # ⊘oracle: approximate by construction; recall tested in pytest
def sim_ann_lsh(
    spark: SparkSession, sf_dir: str, audit_pct: int | None = None
) -> DataFrame:
    """X3 scale path: ANN via random-hyperplane LSH — candidates from the
    (table, bucket) equi-group, VERIFIED PER-BUCKET IN BLAS (the
    ``sim_ann_ivf`` discipline; r3 rewrite of the r2 weak plan whose
    ``approxSimilarityJoin`` evaluated per-candidate distance as a
    Catalyst vector op).  Two stages, both Arrow:

    1. signature pass: H·R projections as one matmul per batch, R sign
       bits per table → bucket id (``_lsh_bucket_batches``);
    2. per-(table, bucket) ``applyInArrow``: dense block matmul, exact
       cos ≥ 0.4 filter, ``vec_a < vec_b`` inside the cell; a final
       (vec_a, vec_b) hash-agg dedups pairs sharing several tables.

    Recall at the fixture's adversarial cos≈0.4 band: P(bits agree) =
    1−θ/π ≈ 0.63, so per-table collision 0.63⁴ ≈ 0.16 and
    1−(1−0.16)¹⁴ ≈ 0.91 — the H=14 replication is the price of recall
    0.9 AT the threshold band; a true near-dup band (cos ≥ 0.9) reaches
    the same recall with H≈3.  Scale knob is R (buckets per table = 2^R
    grows, blocks shrink); verification cost is Σ buckets² in BLAS,
    never per-pair expression evaluation.

    ``audit_pct`` (gate-only knob): restrict the corpus to the
    count-bounded Knuth slice (``pipeline.audit_gate``).  Bucket
    membership is PAIR-LOCAL — a vector's (table, bucket) ids depend
    only on its own signature — so the sliced run produces EXACTLY the
    production candidate set restricted to slice×slice pairs; the
    recall gate's semi-join against slice truth is identical at a
    fraction of the verify FLOPs."""
    from .pipeline import _AUDIT_N0_VEC, audit_gate

    em = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if audit_pct is not None:
        # gate count from footers: the gate takes the PRE-filter table
        # count, which is exactly the footer row count (r13, guide §5)
        em = em.where(
            audit_gate("vec_id", table_rows(sf_dir, "embeddings"), audit_pct, _AUDIT_N0_VEC)
        )
    sig = em.repartition(fanout(spark)).mapInArrow(
        _lsh_bucket_batches,
        schema="vec_id long, table int, bucket int, embedding array<float>",
    )

    cand = sig.groupBy("table", "bucket").applyInArrow(
        bucket_pairs, schema="vec_a long, vec_b long, cos double"
    )
    return (
        cand.groupBy("vec_a", "vec_b")
        .agg(F.max("cos").alias("cos"))  # exact cos — identical across tables
        .select("vec_a", "vec_b", F.round("cos", 6).alias("est_cosine"))
    )


@register(
    "sim_label_knn",
    oracle="""
        WITH n AS (
            SELECT vec_id, label,
                   LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ), p AS (
            SELECT a.vec_id AS vec_id, a.label AS label, b.label AS nbr_label,
                   LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> a.e[i] * b.e[i]))
                     / (a.nrm * b.nrm) AS cos,
                   b.vec_id AS nbr_id
            FROM n a JOIN n b ON a.vec_id != b.vec_id
        ), r AS (
            SELECT vec_id, label, nbr_label,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, nbr_id) AS rn
            FROM p
        )
        SELECT vec_id, CAST(label AS INTEGER) AS label,
               CAST(COUNT(CASE WHEN nbr_label = label THEN 1 END) AS BIGINT)
                 AS same_label_in_top5
        FROM r WHERE rn <= 5
        GROUP BY vec_id, label
    """,
)
def sim_label_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 applied: label purity of the top-5 neighborhood — the grouped
    similarity check the fixture's ``label`` column exists for."""
    em = load(spark, sf_dir, "embeddings")
    n = with_norm(em).join(em.select("vec_id", "label"), "vec_id")
    a, b = n.repartition(fanout(spark)).alias("a"), F.broadcast(n).alias("b")
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (F.col("a.nrm") * F.col("b.nrm"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    top = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("a.label").alias("label"),
            F.col("b.label").alias("nbr_label"),
            F.col("b.vec_id").alias("nbr_id"),
            cos.alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
    )
    return top.groupBy("vec_id", "label").agg(
        F.count(F.when(F.col("nbr_label") == F.col("label"), 1)).alias("same_label_in_top5")
    )


_MRL_DIM = 8  # matryoshka prefix length (full = 64)
_MRL_QUERY_MOD = 50  # every 50th vector is a query (~10 at sf0.01)


@register(
    "sim_matryoshka_prefix",
    oracle=f"""
        WITH n AS (
            SELECT vec_id,
                   LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
                   SQRT(LIST_SUM(LIST_TRANSFORM(embedding[1:{_MRL_DIM}],
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS pnrm
            FROM embeddings
        ), q AS (
            SELECT * FROM n
            WHERE vec_id % {_MRL_QUERY_MOD} = 0 AND vec_id < 500
        ), scored AS (
            SELECT q.vec_id AS qid, b.vec_id AS bid,
                   ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
                         i -> q.e[i] * b.e[i])) / (q.nrm * b.nrm), 6) AS cf,
                   ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, {_MRL_DIM} + 1),
                         i -> q.e[i] * b.e[i])) / (q.pnrm * b.pnrm), 6) AS cp
            FROM q JOIN n b ON q.vec_id != b.vec_id
        ), rf AS (
            SELECT qid, bid AS full_top1, cf AS full_cos,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY cf DESC, bid) AS rn
            FROM scored
        ), rp AS (
            SELECT qid, bid AS prefix_top1, cp AS prefix_cos,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY cp DESC, bid) AS rn
            FROM scored
        )
        SELECT rf.qid AS vec_id, rf.full_top1, rp.prefix_top1,
               rf.full_cos, rp.prefix_cos,
               CAST(rf.full_top1 = rp.prefix_top1 AS INT) AS agree
        FROM rf JOIN rp ON rf.qid = rp.qid AND rf.rn = 1 AND rp.rn = 1
        WHERE rf.rn = 1 AND rp.rn = 1
    """,
)
def sim_matryoshka_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+: Matryoshka prefix-dimension retrieval check — for a sampled
    query set, compare the exact top-1 neighbor under the FULL 64-dim
    cosine against the first-{_MRL_DIM}-dims cosine: the standard
    cheap-first-stage evaluation for matryoshka-trained embeddings
    (prefix search funnels into full-dim rerank exactly like the PQ/ADC
    keys).  Output per query: both winners, both scores, agreement.

    Shape: queries broadcast against the corpus (one pass, no corpus
    self-join); BOTH argmaxes are lexicographic MAX(struct(score,
    -neighbor)) hash aggregates over the same scored stream — no
    per-query sort, no window over a corpus-sized partition.
    Determinism: cosines round 6 dp before the argmax (struct compare),
    tie-break = smallest neighbor id; the fold-ordered dot ensures
    identical float chains."""
    n = with_norm(load(spark, sf_dir, "embeddings"))
    pn = n.withColumn(
        "pnrm",
        F.sqrt(
            dot(
                F.slice("embedding", 1, _MRL_DIM),
                F.slice("embedding", 1, _MRL_DIM),
            )
        ),
    )
    # fixed query panel (ids stable across sf): eval cost stays linear
    # in the corpus instead of growing quadratically with it
    q = pn.where(
        (F.col("vec_id") % _MRL_QUERY_MOD == 0) & (F.col("vec_id") < 500)
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("pnrm").alias("qpn"),
    )
    joined = pn.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    cf = F.round(
        dot(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("nrm")), 6
    )
    cp = F.round(
        dot(F.slice("qe", 1, _MRL_DIM), F.slice("embedding", 1, _MRL_DIM))
        / (F.col("qpn") * F.col("pnrm")),
        6,
    )
    scored = joined.select(
        "qid",
        F.col("vec_id").alias("bid"),
        cf.alias("cf"),
        cp.alias("cp"),
    )
    best = scored.groupBy("qid").agg(
        F.max(F.struct(F.col("cf"), (-F.col("bid")).alias("nb"))).alias("bf"),
        F.max(F.struct(F.col("cp"), (-F.col("bid")).alias("nb"))).alias("bp"),
    )
    return best.select(
        F.col("qid").alias("vec_id"),
        (-F.col("bf.nb")).cast("long").alias("full_top1"),
        (-F.col("bp.nb")).cast("long").alias("prefix_top1"),
        F.col("bf.cf").alias("full_cos"),
        F.col("bp.cp").alias("prefix_cos"),
        (F.col("bf.nb") == F.col("bp.nb")).cast("int").alias("agree"),
    )


_ANN_RECALL_FLOORS = {"ivf": 65, "lsh": 85}  # percent, at the cos≈0.4 hard band
# Sampled-slice audit (the dedup_minhash_recall twin): exact truth runs on
# the deterministic count-BOUNDED Knuth slice (pipeline.audit_gate): the
# pct rule at graded scales (byte-identical to the r9 form), an absolute
# ~_AUDIT_PCT%-of-2000 cap above them (r9b).  The truth kernel is
# all-pairs blocked BLAS — O(n²·d) FLOPs in its SLICE — so a fixed-pct
# slice made the audit quadratic again on big corpora (the 1000x tier
# filled 72 GB of shuffle spill through a 50% slice of 2M vectors); the
# absolute cap holds the truth stage constant at any corpus size.  The
# production ANN candidate sides stay FULL.  Applied via the identical
# integer gate in the oracle, so n_true pins the slice.
_AUDIT_PCT = 50
_AUDIT_KNUTH = 2654435761  # textvec.pipeline._KNUTH (oracles inline it)


def _ann_audit_pct(n_full: int) -> int | None:
    """Above the graded-scale threshold the recall gate's ANN candidate
    sides ride the count-bounded audit slice (r9b); at or below it they
    stay FULL — byte-identical to the rows the driver hashed.  Factored
    out so tests/test_r9_ops.py can pin the flip point: losing this
    routing silently re-grows the quadratic 100x axis the r9b bound
    fixed (123 s → 8.6 s at the 100x replica)."""
    return _AUDIT_PCT if n_full > _AUDIT_N0_VEC else None


@register(
    "sim_ann_recall",
    oracle=f"""
        WITH n AS (
            SELECT vec_id,
                   LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
            WHERE {sql_audit_gate("vec_id", "embeddings", _AUDIT_PCT, _AUDIT_N0_VEC)}
        ), t AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_true
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
                  i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) >= 0.4
        )
        SELECT m.method AS method, t.n_true AS n_true,
               CAST(m.floor_pct AS BIGINT) AS floor_pct,
               TRUE AS floor_met
        FROM t CROSS JOIN (VALUES
            ('ivf', {_ANN_RECALL_FLOORS["ivf"]}),
            ('lsh', {_ANN_RECALL_FLOORS["lsh"]})) AS m(method, floor_pct)
    """,
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 quality gate: DRIVER-CHECKABLE recall floors for both ANN paths
    — per method, the exact near-dup pair count (``dedup_embedding``'s
    cos ≥ 0.4 ground truth, SQL-verified) and a boolean asserting
    |ANN ∩ exact| ≥ floor% of exact.  The oracle pins ``floor_met`` to
    TRUE: an LSH banding or IVF probing regression that drops recall
    below the floor flips the boolean and the driver's hash row goes
    red — closing the "⊘ rows-only check cannot catch a recall
    regression" gap for ``sim_ann_lsh``/``sim_ann_ivf``.

    SAMPLED-SLICE AUDIT (r9, count-BOUNDED r9b): truth runs on the
    deterministic Knuth-hash vec slice via ``pipeline.audit_gate`` —
    {_AUDIT_PCT}% at graded scales (byte-identical to the r9 rule), an
    absolute ~{_AUDIT_PCT}%-of-{_AUDIT_N0_VEC} cap above them.  The r8
    gate ran the all-pairs BLAS truth over the FULL corpus (2.2× at the
    10× replica); the r9 fixed-pct slice was still a FRACTION, so the
    quadratic truth stage returned at the 1000× tier (72 GB of shuffle
    spill at 2M vectors) — the absolute cap holds it constant at any
    corpus size.  The oracle applies the identical integer gate, so the
    slice membership is hash-pinned via n_true.  Both ANN paths are deterministic (seeded hashes /
    learned centroids from a fixed init), so slice recall is
    reproducible; floors re-verified against sampled truth at both
    fixture grains.

    Floors ({_ANN_RECALL_FLOORS!r}) sit under the measured fixture
    recalls at the adversarial cos≈0.4 band (LSH ≈0.9+ with H=14 tables,
    IVF ≈0.82 with symmetric 3-probe; a true near-dup band cos ≥ 0.9
    recalls ≈1 for both).  Both candidate sets are exact-verified, so
    precision is 1 by construction and the intersection is a semi-join
    on the pair key.  Scale: truth is the blocked BLAS pair kernel over
    the slice, the ANN sides are the production candidates — everything
    rides the same bounded pair tables; the two 1-row hit counts
    broadcast."""
    from .dedup import dedup_embedding
    from .similarity_ivf import sim_ann_ivf

    # Above the graded-scale threshold the ANN candidate sides ALSO ride
    # the bounded slice (r9b): LSH candidacy is pair-local, so its sliced
    # run IS the production candidate set restricted to slice pairs —
    # identical semi-join hits; IVF's is a sample-fit audit (see its
    # knob note).  At graded scales both sides stay FULL — byte-identical
    # to the r8/r9 behavior the driver hashed.
    n_full = table_rows(sf_dir, "embeddings")  # footer count, no Spark job (r13)
    ann_audit = _ann_audit_pct(n_full)
    truth = (
        dedup_embedding(spark, sf_dir, audit_pct=_AUDIT_PCT)
        .select("vec_a", "vec_b")
        .persist()
    )
    n_true = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))

    def gate(method: str, cand: DataFrame) -> DataFrame:
        floor_pct = _ANN_RECALL_FLOORS[method]
        hits = truth.join(cand, ["vec_a", "vec_b"], "left_semi").agg(
            F.count(F.lit(1)).cast("long").alias("hits")
        )
        return n_true.crossJoin(F.broadcast(hits)).select(
            F.lit(method).alias("method"),
            F.col("n_true"),
            F.lit(floor_pct).cast("long").alias("floor_pct"),
            (F.col("hits") * 100 >= F.lit(floor_pct) * F.col("n_true")).alias(
                "floor_met"
            ),
        )

    ivf = gate(
        "ivf",
        sim_ann_ivf(spark, sf_dir, audit_pct=ann_audit).select("vec_a", "vec_b"),
    )
    lsh = gate(
        "lsh",
        sim_ann_lsh(spark, sf_dir, audit_pct=ann_audit).select("vec_a", "vec_b"),
    )
    return ivf.unionByName(lsh)
