"""IVF (inverted-file) approximate neighbor search (SURVEY.md §2.10 X3
scale path, the learned-centroid sibling of the random-hyperplane LSH in
similarity.py).

Shape: learn K coarse centroids (k-means on the unit sphere), assign every
index vector to its nearest centroid (ONE bucket), probe each query
against its ``nprobe`` nearest centroids, generate candidates via the
bucket equi-join, verify with exact cosine.  Candidate volume is
``nprobe/K`` of the corpus per query instead of n² — the IVF trade
everyone tunes: bigger K = smaller buckets, bigger nprobe = better recall.

Spark mapping: the centroid matrix is model METADATA (K·d floats — not
data), so folding it into literal column expressions keeps assignment
inside whole-stage codegen; the only shuffles are the bucket join and the
pair distinct.  At 100 TB you'd train the centroids on a sample and
broadcast them exactly the same way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load, table_rows
from ..registry import register
from .similarity import bucket_pairs, with_norm

_K = 16
_NPROBE = 3


def _dots_to_centers(uv: Column, centers: list[list[float]]) -> Column:
    """Array of <uv, c_k> for every centroid — on the unit sphere the
    nearest centroid is the max-dot one (d² = |c|² + 1 - 2·dot)."""
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    uv,
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for c in centers
        ]
    )


def _top_buckets(dots: Column, n: int) -> list[Column]:
    """Indices of the n largest dots (ties broken by centroid id)."""
    idx = F.sequence(F.lit(0), F.lit(_K - 1))
    ranked = F.sort_array(
        F.zip_with(dots, idx, lambda d, i: F.struct(d.alias("d"), i.alias("i")))
    )
    return [F.element_at(ranked, _K - r)["i"] for r in range(n)]


_FIT_CAP = 4096  # max rows the k-means fit sees (sampled above this)
_HASH_RANGE = 1 << 20


@register("sim_ann_ivf")  # ⊘oracle: approximate by construction; recall tested in pytest
def sim_ann_ivf(
    spark: SparkSession, sf_dir: str, audit_pct: int | None = None
) -> DataFrame:
    """X3 scale path #2: IVF near-dup pairs (exact-verified cos >= 0.4 on
    candidates).  SYMMETRIC probing: both sides list their NPROBE nearest
    centroids and candidates are pairs sharing any bucket — measured on
    the fixture's worst-case band (its exact pairs sit at cos 0.40-0.48,
    nearly orthogonal): recall 0.41 asymmetric-2 → 0.82 symmetric-3, and
    exact verification keeps precision at 1.0.  A true near-dup band
    (cos ≥ 0.9) co-quantizes almost surely, so recall there → 1.

    Two scale mechanics (r2b, after the 10x measurement found 9.5x):
    - The k-means fit runs on a ``vec_id``-hash sample of about
      ``_FIT_CAP`` rows (fixtures stay below the cap, so their centroids
      are unchanged) —
      centroids are model metadata; training them on the full corpus is
      wasted work that grows with the data.
    - Candidate verification is a per-bucket BLAS matmul
      (``applyInArrow`` per bucket), not a per-pair Catalyst
      ``aggregate`` fold: candidates within a bucket form a dense block,
      exactly the shape BLAS eats (the fold form measured 200+ s at 20k
      vectors).  Pairs sharing several probe buckets are deduped by a
      (vec_a, vec_b) hash-agg.  The corpus-growth knob is K (buckets
      shrink as K grows); nothing else in the plan is super-linear."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    n = with_norm(load(spark, sf_dir, "embeddings"))
    if audit_pct is not None:
        # gate-only knob: count-bounded Knuth slice.  Unlike LSH, IVF
        # candidacy is NOT pair-local (centroids are learned), so the
        # sliced run audits the IVF algorithm AT the slice, not the
        # production index restricted to it — a sample-fit audit, the
        # honest option when fitting the full corpus just to audit it
        # would cost more than the production query path being audited.
        from .pipeline import _AUDIT_N0_VEC, audit_gate

        # gate count = PRE-filter table count = footer row count (r13, §5)
        n = n.where(
            audit_gate("vec_id", table_rows(sf_dir, "embeddings"), audit_pct, _AUDIT_N0_VEC)
        )
    unit = n.select(
        "vec_id",
        "embedding",
        F.transform("embedding", lambda x: x.cast("double") / F.col("nrm")).alias("uv"),
    ).persist()
    # Two consumers share `unit`: the k-means fit (Spark 4 ML re-executes
    # the input DataFrame lineage on EVERY Lloyd iteration when it isn't
    # cached — the uncached fit re-ran the scan + normalize ~25×;
    # interleaved A/B at sf0.1: fit 4.4 s → 1.9 s, centers bit-identical
    # since data and partitioning are unchanged) and the probe/assignment
    # explode below; the fit's first job materializes the cache.
    # r13 (guide §5): the sizing count is the footer row count in the
    # production path (unit is a 1:1 projection of the table); the audit
    # path filters first, so it keeps the Spark-side count.
    n_vecs = (
        table_rows(sf_dir, "embeddings") if audit_pct is None else unit.count()
    )
    if n_vecs < 2:
        # degenerate corpus: no (vec_a < vec_b) pair can exist, and MLlib
        # KMeans hard-errors on k > points / k < 2 (found by the r8
        # degenerate-grain sweep on a 1-vector fixture) — the exact answer
        # is the empty pair set, so emit it without fitting anything.
        return spark.createDataFrame(
            [], "vec_a long, vec_b long, est_cosine double"
        )
    fit_df = unit
    if n_vecs > _FIT_CAP:
        # the same rows in the same order every run (a sample() of the
        # persisted frame is not repeatable): a vec_id-hash threshold, in
        # one vec_id-ordered partition for the k-means init and its sums
        share = int(_FIT_CAP / n_vecs * _HASH_RANGE)
        fit_df = (
            unit.where(F.pmod(F.xxhash64("vec_id"), F.lit(_HASH_RANGE)) < share)
            .coalesce(1)
            .sortWithinPartitions("vec_id")
        )
    # k never exceeds the corpus (same sweep finding); the fixtures (500+
    # vectors) always use the full _K, so graded grains are unchanged.
    km = KMeans(
        k=min(_K, n_vecs), seed=7, featuresCol="vec", predictionCol="bucket"
    )
    model = km.fit(fit_df.select(array_to_vector(F.col("uv")).alias("vec")))
    centers = [list(map(float, c)) for c in model.clusterCenters()]

    dots = _dots_to_centers(F.col("uv"), centers)
    b = _top_buckets(dots, _NPROBE)
    both = unit.select("vec_id", "embedding", F.explode(F.array(*b)).alias("bucket"))

    cand = both.groupBy("bucket").applyInArrow(
        bucket_pairs, schema="vec_a long, vec_b long, cos double"
    )
    return (
        cand.groupBy("vec_a", "vec_b")
        .agg(F.max("cos").alias("cos"))  # dedup pairs sharing >1 probe bucket
        .select("vec_a", "vec_b", F.round("cos", 6).alias("est_cosine"))
    )
