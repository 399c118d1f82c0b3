"""Deduplication family (SURVEY.md §2.10 X1/X2 + training-pipeline extras).

Not in the EO reference (its only dedup is index uniqueness of dataset
UUIDs, A11) — this is the LLM-training-data surface the north star adds:
exact hash dedup, MinHash/LSH near-dup, exact n-gram Jaccard, SimHash.

Scale notes (100 TB):
- Exact: one hash-aggregate on a 64-bit content key (``xxhash64`` in
  production; md5 here because the DuckDB oracle lacks xxhash). Shuffle
  carries (hash, doc_id) only — never the text.
- MinHash/LSH: banding turns O(n²) similarity into equi-join on band
  buckets; candidate pairs only are verified.  ``approxSimilarityJoin``
  does exactly this under the hood.
- Exact n-gram Jaccard: explode shingles → self-equi-join on shingle →
  count intersections.  Shuffle volume = total shingle count, not n².
  Feasible when shingle frequency is bounded; the LSH path replaces it
  when hot shingles would blow up the join (document frequency cap).
- SimHash: 64-bit sketch per doc (one map pass), near-dups = small
  Hamming distance; bucket by bit-bands for candidate generation.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import fanout, load, table_rows
from ..registry import register
from .pipeline import _AUDIT_N0_DOC, _AUDIT_N0_VEC, audit_gate, sql_audit_gate
from .shingle import _shingles
from .similarity import _unit_rows


@register(
    "dedup_exact_hash",
    oracle="""
        SELECT MD5(text) AS text_hash,
               MIN(doc_id) AS keeper_id,
               COUNT(*) AS dup_cnt
        FROM documents
        GROUP BY MD5(text)
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: exact dedup — content-hash groupBy, min doc_id survives.
    Production key is ``xxhash64(text)`` (8-byte shuffle key, no crypto
    cost); md5 here for oracle parity."""
    dc = load(spark, sf_dir, "documents")
    return dc.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("dup_cnt"),
    )


@register(
    "dedup_ngram_jaccard",
    oracle="""
        WITH toks AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT doc_id,
                   LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shs
            FROM toks WHERE LEN(t) >= 3
        ), ex AS (
            SELECT doc_id, UNNEST(shs) AS sh FROM sh
        ), sz AS (
            SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               ROUND(i / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sz sa ON sa.doc_id = doc_a
        JOIN sz sb ON sb.doc_id = doc_b
        WHERE i / (sa.n + sb.n - i) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2-exact: 3-gram shingle Jaccard >= 0.5 near-dup pairs via
    explode + shingle equi-join (no cross join anywhere)."""
    dc = load(spark, sf_dir, "documents")
    # parallelize the shingle builder (single-file input), then partition
    # by the JOIN key so the self-join reuses ONE Exchange for both sides
    # and needs no further shuffle; the size agg re-shuffles by doc_id
    ex = (
        dc.repartition(fanout(spark))
        .select("doc_id", F.explode(_shingles()).alias("sh"))
        .repartition(fanout(spark), "sh")
    )
    sz = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


_MH_K = 64  # minhash functions
_MH_B, _MH_R = 16, 4  # bands × rows: s-curve threshold (1/B)^(1/R) = 0.5
# audit-gate n0 thresholds live in pipeline.py beside audit_gate (r9b)

# Spark's XXH64 (org.apache.spark.sql.catalyst.expressions.XXH64) for 4-
# and 8-byte inputs, in wrapping uint64 numpy arithmetic: bit-identical to
# ``F.xxhash64``, which chains multi-column hashes from seed 42 as
# h = hash(c1, 42), then hash(c2, h), ...
_P1, _P2, _P3, _P4, _P5 = (
    np.uint64(p)
    for p in (
        0x9E3779B185EBCA87,
        0xC2B2AE3D27D4EB4F,
        0x165667B19E3779F9,
        0x85EBCA77C2B2AE63,
        0x27D4EB2F165667C5,
    )
)
_XXH_SEED = np.uint64(42)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = (h ^ (h >> np.uint64(33))) * _P2
    h = (h ^ (h >> np.uint64(29))) * _P3
    return h ^ (h >> np.uint64(32))


def _xxh64_int(x, seed) -> np.ndarray:
    """``XXH64.hashInt``: int32 values, uint64 seeds → uint64 hashes."""
    with np.errstate(over="ignore"):
        h = seed + _P5 + np.uint64(4)
        h = h ^ np.asarray(x, np.int32).view(np.uint32).astype(np.uint64) * _P1
        return _fmix(_rotl(h, 23) * _P2 + _P3)


def _xxh64_long(x, seed) -> np.ndarray:
    """``XXH64.hashLong``: int64/uint64 values, uint64 seeds → uint64 hashes."""
    with np.errstate(over="ignore"):
        h = seed + _P5 + np.uint64(8)
        h = h ^ _rotl(np.asarray(x).view(np.uint64) * _P2, 31) * _P1
        return _fmix(_rotl(h, 27) * _P1 + _P4)


# hash function i is xxhash64(i, hs): hashLong(hs, hashInt(i, 42))
_MH_SEEDS = _xxh64_int(np.arange(_MH_K), _XXH_SEED)


def _minhash_bands(batches):
    """One Arrow pass per batch of per-document shingle-hash sets
    ``(doc_id, hs array<long>)``: the K minima of ``xxhash64(i, hs)``
    (signed, as Spark's ``min``) as K vectorized passes over the flat
    values buffer (``minimum.reduceat`` over the list offsets), then the
    B band signatures ``xxhash64(m[R·b], …, m[R·b+R-1])``; emits
    ``(doc_id, band, sig)``, B rows per document."""
    import pyarrow as pa

    bands = np.arange(_MH_B, dtype=np.int32)
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        sets = batch.column("hs")
        off = sets.offsets.to_numpy()
        hs = sets.values.to_numpy()[off[0] : off[-1]]
        starts = off[:-1] - off[0]
        mins = np.empty((n, _MH_K), np.uint64)
        for i, seed in enumerate(_MH_SEEDS):
            mins[:, i] = np.minimum.reduceat(
                _xxh64_long(hs, seed).view(np.int64), starts
            ).view(np.uint64)
        rows = mins.reshape(n, _MH_B, _MH_R)
        sig = np.full((n, _MH_B), _XXH_SEED)
        for r in range(_MH_R):
            sig = _xxh64_long(rows[:, :, r], sig)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.repeat(batch.column("doc_id").to_numpy(), _MH_B)),
                pa.array(np.tile(bands, n)),
                pa.array(sig.view(np.int64).ravel()),
            ],
            names=["doc_id", "band", "sig"],
        )


@register("dedup_minhash")  # ⊘oracle: banded LSH is approximate by construction
def dedup_minhash(
    spark: SparkSession, sf_dir: str, audit_pct: int | None = None
) -> DataFrame:
    """X2: MinHash+LSH near-dup pairs, the scale-ready banded design:
    shingles → one xxhash64 per shingle → one int64 hash set per doc →
    K=64 minima and B=16 band signatures of R=4 rows in one Arrow
    pass → doc pairs sharing a (band, sig) bucket as candidates → verify with
    EXACT set Jaccard (array_intersect over the int64 sets) → filter.

    ``audit_pct`` (gate-only knob, not part of the registered key):
    restrict the corpus to the deterministic Knuth-hash doc slice before
    shingling.  Candidacy is PAIR-LOCAL — (a, b) collide iff they share
    a band signature, and signatures depend only on each doc's own
    shingles — so the slice run produces EXACTLY the production
    candidate set restricted to slice×slice pairs: the recall gate's
    semi-join against slice truth returns identical hits at a fraction
    of the cost (``dedup_minhash_recall``).

    Two deliberate shapes:
    - The K hash functions are int mixes of ONE 64-bit shingle hash
      (``xxhash64(i, hs)``), evaluated as whole-array numpy passes over
      each document's hash set, not as K rows per shingle through a
      (doc_id, i) min-aggregate: the shuffle carries one hash-set row
      per document, and no row form ever multiplies the shingles by K.
      The numpy XXH64 port reproduces Spark's ``xxhash64`` bit for bit,
      so the signatures equal the Catalyst row form's.
    - Banding with R=4 rows: candidate probability 1-(1-j⁴)¹⁶, a steep
      s-curve at j≈0.5.  ``ml.MinHashLSH``'s single-hash bands make
      candidate probability equal RAW Jaccard — floods the verifier on a
      high-base-similarity corpus (dedup_minhash_ml, kept for contrast).
    At 100 TB: shuffle = n hash sets + n·B band rows; no n² anywhere."""
    dc = load(spark, sf_dir, "documents")
    if audit_pct is not None:
        # gate count = PRE-filter table count = footer row count (r13, §5)
        dc = dc.where(
            audit_gate("doc_id", table_rows(sf_dir, "documents"), audit_pct, _AUDIT_N0_DOC)
        )
    # Two deliberate repartitions around the shingle builder:
    # - BEFORE: the fixture is one parquet file = one partition, and the
    #   builder (concat_ws × positions + array_distinct) is the single
    #   most expensive projection in the plan — round-robin it across
    #   tasks or it runs serially (measured 4.8s of the 8.4s key).  The
    #   token-count filter (≥3 tokens ⇔ ≥1 shingle, so no set is empty)
    #   runs before it on the raw text: a filter on the shingle array
    #   itself would be pushed below the repartition and run the builder
    #   serially.
    # - AFTER: each shingle string is hashed inside the builder's array,
    #   so the hash(doc_id) Exchange carries ONE (doc_id, hash set) row
    #   per document; it is REUSED by all consumers (signature pass and
    #   verification sets), so the builder still runs exactly once — do
    #   NOT replace with checkpoint/persist (measured slower).
    sets = (
        dc.where(F.size(F.split("text", " ")) >= 3)
        .repartition(fanout(spark))
        .select(
            "doc_id",
            F.array_distinct(F.transform(_shingles(), lambda sh: F.xxhash64(sh))).alias("hs"),
        )
        .repartition(fanout(spark), "doc_id")
    )
    return _minhash_pairs(sets)


def _minhash_pairs(sets: DataFrame) -> DataFrame:
    """Banded-MinHash candidate generation + exact-Jaccard verify over a
    prebuilt ``(doc_id, hs)`` table of per-document shingle-hash sets
    (non-empty ``array<long>``).  Split out so ``dedup_minhash_recall``
    can feed ONE shared sliced shingle build to both its truth kernel and
    this candidate path instead of scanning + shingling the corpus twice."""
    # The explicit not-null filter is the one Catalyst infers for the
    # verify joins but cannot push below the Python pass: stated here, it
    # lands on the scan in every branch, so their Exchanges are identical
    # and AQE runs one of them for all consumers.
    sets = sets.where(F.col("doc_id").isNotNull())
    banded = sets.mapInArrow(_minhash_bands, "doc_id long, band int, sig long")
    # candidates = doc pairs sharing a (band, sig) bucket: one grouping of
    # the signature rows (a self-join would run the Python pass per side)
    cand = (
        banded.groupBy("band", "sig")
        .agg(F.collect_list("doc_id").alias("ds"))
        .where(F.size("ds") > 1)
        .select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    jac = inter / union
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("est_jaccard"))
    )


@register("dedup_minhash_ml")  # ⊘oracle: spark.ml MinHashLSH integration variant
def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 via spark.ml: HashingTF sparse vectors → seeded MinHashLSH →
    ``approxSimilarityJoin``.  Kept as the MLlib-integration surface; the
    banded expr implementation above is the production path (see its
    docstring for why)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    dc = load(spark, sf_dir, "documents")
    # cheap token-count filter (≥3 tokens ⇔ ≥1 shingle) BEFORE the
    # repartition: a filter on the shingle array itself would be pushed
    # below the Repartition and run the builder serially on the
    # single-partition scan (see text_repetition)
    sh = (
        dc.where(F.size(F.split("text", " ")) >= 3)
        .repartition(fanout(spark))
        .select("doc_id", _shingles().alias("shs"))
    )
    tf = HashingTF(inputCol="shs", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = tf.transform(sh)
    lsh = MinHashLSH(inputCol="features", outputCol="bands", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    return (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(1 - F.col("jaccard_dist"), 6).alias("est_jaccard"),
        )
    )


def _simhash_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        out = np.empty(len(pdf), dtype=np.int64)
        for row_i, text in enumerate(pdf["text"]):
            acc = np.zeros(64, dtype=np.int64)
            for tok in set(text.split(" ")):
                h = hashlib.md5(tok.encode()).digest()[:8]
                bits = np.unpackbits(np.frombuffer(h, dtype=np.uint8), bitorder="little")
                acc += 2 * bits.astype(np.int64) - 1
            sig = np.packbits((acc > 0), bitorder="little").view(np.int64)[0]
            out[row_i] = sig
        yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(), "simhash": out})


@register("dedup_simhash")  # ⊘oracle: sketch; Hamming-neighbor property tested in pytest
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2-alt: 64-bit SimHash signature per document (deterministic md5
    token hashes) via mapInPandas — one map pass, no shuffle; near-dup
    candidates = band-bucketed small-Hamming pairs downstream."""
    dc = load(spark, sf_dir, "documents")
    return dc.select("doc_id", "text").mapInPandas(
        _simhash_batches, schema="doc_id long, simhash long"
    )


@register(
    "dedup_embedding",
    oracle="""
        WITH n AS (
            SELECT vec_id,
                   LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e,
                   SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
                     i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
              i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) >= 0.4
    """,
)
def dedup_embedding(
    spark: SparkSession, sf_dir: str, audit_pct: int | None = None
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos >= 0.4), exact, as a
    block-partitioned matrix product (the ``sim_topk_cosine`` cogroup
    shape with a threshold filter instead of top-k): index split into B
    blocks, queries probed across P parts, each (qpart, block) cell one
    BLAS matmul on executors.  The ``a.vec_id < b.vec_id`` filter runs
    inside the cell, and each unordered pair lands in exactly one cell —
    no distinct needed.

    ``audit_pct`` (gate-only knob, not part of the registered key):
    restrict BOTH sides to the deterministic count-BOUNDED Knuth slice
    (``pipeline.audit_gate``: pct rule at graded scales, an absolute
    ~pct%-of-n0 cap above them) before the cogroup — the
    ``sim_ann_recall`` sampled-slice audit.  The kernel is all-pairs
    BLAS (O(n²·d) FLOPs in its slice), so only an ABSOLUTE cap keeps
    the audit constant-cost as the corpus grows; recall — a ratio —
    estimates cleanly on the slice.

    The r1 form (broadcast + per-pair ``aggregate`` fold) evaluated the
    64-step lambda once per pair: measured 104 s at 20k vectors vs ~2 s
    for this form — Catalyst higher-order functions are the wrong tool
    for O(n²·d) arithmetic.  At 100 TB the LSH/IVF bucket joins generate
    candidates and this exact kernel verifies them.

    ADAPTIVE BLOCK GRID (r9): B and P scale with the vector count so
    each cell's dense (n/P)×(n/B) float64 product stays ~64 MB.  The r8
    fixed 4×8 grid was tuned for 20k vectors; at the 100× fixture's
    100k-vector audit slice a cell materialized a 12.5k×25k ≈ 2.5 GB
    matrix per task and the kernel thrashed.  Any (B, P) yields the
    identical pair set — vec a meets vec b in exactly cell
    (a%P, b%B) — so the grid is a pure memory/parallelism knob; the
    count() that sizes it is a parquet-metadata-only job."""
    import math

    import pyarrow as pa

    em = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_full = None
    if audit_pct is not None:
        # count-BOUNDED slice (r9b): pct rule at graded scales, absolute
        # ~pct%-of-_AUDIT_N0_VEC cap above them — a fixed-pct slice made
        # this quadratic truth kernel quadratic again at the 1000x tier
        n_full = table_rows(sf_dir, "embeddings")  # footer count (r13, §5)
        em = em.where(audit_gate("vec_id", n_full, audit_pct, _AUDIT_N0_VEC))
    # grid sizing: footer count in the production path; the audit path
    # filtered above, so it keeps a Spark-side count of the slice
    n = table_rows(sf_dir, "embeddings") if audit_pct is None else em.count()
    P = max(8, math.ceil(n / 2048))
    B = max(4, math.ceil(n / 4096))
    # SEPARATE load for the index side: when both cogroup children share one
    # base plan, DeduplicateRelations re-ids the right side's columns but the
    # cogroup function keeps the left-side exprIds, and the mismatched
    # attributes get pruned — the right Arrow table then arrives with only
    # its grouping keys (KeyError in the kernel).  A fresh scan gives the
    # right side its own attribute ids.
    em_i = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if audit_pct is not None:
        em_i = em_i.where(audit_gate("vec_id", n_full, audit_pct, _AUDIT_N0_VEC))
    q = em.withColumn("qpart", F.pmod("vec_id", F.lit(P)).cast("int")).withColumn(
        "block", F.explode(F.sequence(F.lit(0), F.lit(B - 1)))
    )
    idx = em_i.withColumn("block", F.pmod("vec_id", F.lit(B)).cast("int")).withColumn(
        "qpart", F.explode(F.sequence(F.lit(0), F.lit(P - 1)))
    )

    out = pa.schema([("vec_a", pa.int64()), ("vec_b", pa.int64()), ("cos", pa.float64())])

    def pairs_block(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return out.empty_table()
        q_ids = left.column("vec_id").to_numpy()
        b_ids = right.column("vec_id").to_numpy()
        C = _unit_rows(left.column("embedding")) @ _unit_rows(right.column("embedding")).T
        i, j = np.nonzero((C >= 0.4) & np.less.outer(q_ids, b_ids))
        return pa.table({"vec_a": q_ids[i], "vec_b": b_ids[j], "cos": C[i, j]}, schema=out)

    return (
        q.groupBy("qpart", "block")
        .cogroup(idx.groupBy("qpart", "block"))
        .applyInArrow(pairs_block, schema="vec_a long, vec_b long, cos double")
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))
    )


_MH_RECALL_FLOOR = 90  # percent, at the exact-Jaccard >= 0.7 band
# Sampled-slice audit: the exact-Jaccard truth side runs on the
# deterministic count-BOUNDED Knuth slice (pipeline.audit_gate): the pct
# rule at graded scales, an absolute ~_AUDIT_PCT%-of-_AUDIT_N0_DOC cap
# above them (r9b — a fixed-pct slice grows with the corpus and the pair
# join over it is quadratic again; the 1000x tier proved it).  Recall —
# a ratio over truth pairs — estimates cleanly on the slice; the oracle
# applies the identical integer gate, so n_true pins the slice itself.
_AUDIT_PCT = 50
_AUDIT_KNUTH = 2654435761  # textvec.pipeline._KNUTH (oracles inline it)


@register(
    "dedup_minhash_recall",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
            WHERE {sql_audit_gate("doc_id", "documents", _AUDIT_PCT, _AUDIT_N0_DOC)}
        ), sh AS (
            SELECT doc_id,
                   LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shs
            FROM toks WHERE LEN(t) >= 3
        ), ex AS (
            SELECT doc_id, UNNEST(shs) AS sh FROM sh
        ), sz AS (
            SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), t AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_true
            FROM inter
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE i / (sa.n + sb.n - i) >= CAST(0.7 AS DOUBLE)
        )
        SELECT 'minhash_lsh' AS method, t.n_true AS n_true,
               CAST({_MH_RECALL_FLOOR} AS BIGINT) AS floor_pct,
               TRUE AS floor_met
        FROM t
    """,
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 quality gate: the ``sim_ann_recall`` pattern applied to the
    dedup tier — exact 3-gram-Jaccard ≥ 0.7 near-dup pair count
    (SQL-verified) plus a boolean asserting the banded MinHash LSH
    recovers ≥ {_MH_RECALL_FLOOR}% of them.  The oracle pins
    ``floor_met`` TRUE, so a banding regression (fewer tables, broken
    signature hash, s-curve drift) flips the driver hash row — MinHash
    was previously ⊘ rows-only and a recall regression was invisible.

    SAMPLED-SLICE AUDIT (r9, count-BOUNDED r9b): the truth side runs on
    the deterministic Knuth-hash doc slice via ``pipeline.audit_gate``
    — {_AUDIT_PCT}% at graded scales (byte-identical to the r9 rule),
    an absolute ~{_AUDIT_PCT}%-of-{_AUDIT_N0_DOC} cap above them (a
    fixed-pct slice is a FRACTION: its pair join grows quadratically
    again on big corpora — the 1000× tier proved it on the embedding
    twin).  The candidate side here rides the SAME sliced shingle
    build, so the whole gate is slice-bounded.  The oracle applies the
    identical arithmetic gate, so the slice membership itself is
    hash-pinned via n_true.  MinHash signatures are deterministic hash
    functions — slice recall is reproducible run to run, and the floor
    was re-verified against the sampled truth at both fixture grains.

    At the 16×4 banding (threshold (1/B)^(1/R) = 0.5), a j = 0.7 pair
    misses all 16 bands with probability (1−0.7⁴)¹⁶ ≈ 1.2% — pytest
    pins FULL recall on the fixtures; the {_MH_RECALL_FLOOR}% floor
    leaves margin for the s-curve's tail at other grains.  The truth
    threshold compares the RAW integer-ratio jaccard on both engines
    (bit-identical IEEE on exact counts — never the rounded column).
    Scale: ONE sliced shingle build (persisted) feeds both the truth
    pair join (the dedup_ngram_jaccard shape — shingle equi-join, no
    n²) and the banded candidate run; hits are one pair-key semi-join;
    the 1-row count broadcasts."""
    dc_full = load(spark, sf_dir, "documents")
    dc = dc_full.where(
        # gate count = raw table count = footer row count (r13, §5)
        audit_gate("doc_id", table_rows(sf_dir, "documents"), _AUDIT_PCT, _AUDIT_N0_DOC)
    )
    # Shared sliced shingle build — the single most expensive projection
    # in either half; persist it round-robin-partitioned and let each
    # consumer add its own Exchange (sh for the truth join, doc_id for
    # the shingle-hash sets) on top of the cache.
    ex_base = (
        dc.repartition(fanout(spark))
        .select("doc_id", F.explode(_shingles()).alias("sh"))
        .persist()
    )
    ex = ex_base.repartition(fanout(spark), "sh")
    sz = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    truth = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= F.lit(0.7))
        .select("doc_a", "doc_b")
        .persist()  # two consumers: the count and the hit semi-join
    )
    n_true = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    # Candidates from the SAME sliced build: banded candidacy is
    # pair-local (see dedup_minhash's audit_pct note), so this returns
    # EXACTLY the production candidate set restricted to slice×slice
    # pairs — the semi-join below can never use an out-of-slice
    # candidate anyway.
    cand = _minhash_pairs(
        ex_base.groupBy("doc_id").agg(F.collect_set(F.xxhash64("sh")).alias("hs"))
    ).select("doc_a", "doc_b")
    hits = truth.join(cand, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("hits")
    )
    return n_true.crossJoin(F.broadcast(hits)).select(
        F.lit("minhash_lsh").alias("method"),
        F.col("n_true"),
        F.lit(_MH_RECALL_FLOOR).cast("long").alias("floor_pct"),
        (F.col("hits") * 100 >= F.lit(_MH_RECALL_FLOOR) * F.col("n_true")).alias(
            "floor_met"
        ),
    )
