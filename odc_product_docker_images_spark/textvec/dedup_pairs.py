"""Pairwise near-dup closures (SURVEY.md §2.10 X2 — the pair-producing
end of the dedup family): SimHash Hamming pairs, asymmetric shingle
containment, and shingle-blocked edit-distance verification.

``dedup_simhash`` emits the compact production sketch (one Arrow map pass,
md5 token hashes packed to an int64).  This module closes the family with
the CANDIDATE JOIN its docstring promises, as a fully oracle-able twin:
the signature is recomputed in pure Column expressions (nibble-level md5
bits — a fixed bit-permutation of the sketch's byte-level packing, which
Hamming distance is invariant under), split into B=4 bands of 16 bits, and

- candidates = band equi-join: two docs pair iff SOME band matches.
  Pigeonhole: Hamming ≤ 3 < B guarantees ≥ 1 equal band, so the band
  join has EXACT recall at the k=3 threshold — no approximation anywhere.
- verify = exact Hamming over the 4 band values per pair:
  ``SUM(bit_count(band_a XOR band_b))``, with the identical
  ``BIT_COUNT(XOR(...))`` form in the DuckDB oracle.

Scale shape (100 TB): the 64-way bit explode is map-side fan-out riding
the scan (no shuffle grows with it); shuffles are the (doc, bit) and
(doc, band) hash-aggs (both bounded by 64·docs rows of longs) and the
band-bucket equi-join — candidate volume is bucket-collision-bounded,
never n².  This is the same candidates-in-equi-join / verify-on-candidates
discipline as MinHash banding and IVF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import fanout, load
from ..registry import register
from .shingle import _shingles

_HAM_K = 3  # exact-recall threshold: k < B bands of the 64-bit signature


@register(
    "dedup_simhash_pairs",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS tok
            FROM documents
        ), th AS (
            SELECT doc_id, SUBSTR(MD5(tok), 1, 16) AS h FROM tok
        ), bits AS (
            SELECT doc_id, i,
                   ((STRPOS('0123456789abcdef', SUBSTR(h, (i // 4) + 1, 1)) - 1)
                     >> (i % 4)) & 1 AS b
            FROM th, (SELECT UNNEST(RANGE(0, 64)) AS i)
        ), sig AS (
            SELECT doc_id, i,
                   CASE WHEN 2 * SUM(b) > COUNT(*) THEN 1 ELSE 0 END AS sb
            FROM bits GROUP BY doc_id, i
        ), bands AS (
            SELECT doc_id, i // 16 AS band,
                   CAST(SUM(sb << (i % 16)) AS BIGINT) AS bv
            FROM sig GROUP BY doc_id, i // 16
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
        ), ham AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(SUM(BIT_COUNT(XOR(x.bv, y.bv))) AS INTEGER) AS hamming
            FROM cand c
            JOIN bands x ON x.doc_id = c.doc_a
            JOIN bands y ON y.doc_id = c.doc_b AND y.band = x.band
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT doc_a, doc_b, hamming
        FROM ham WHERE hamming <= {_HAM_K}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: SimHash near-dup PAIRS — band-bucketed candidate join + exact
    Hamming ≤ 3 verification, full value oracle (see module docstring for
    the exact-recall argument)."""
    dc = load(spark, sf_dir, "documents")
    tok = dc.repartition(fanout(spark)).select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    th = tok.select("doc_id", F.substring(F.md5("tok"), 1, 16).alias("h"))
    bits = th.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i"),
        "h",
    ).select(
        "doc_id",
        "i",
        F.expr(
            "shiftright(CAST(conv(substring(h, (i div 4) + 1, 1), 16, 10) AS INT),"
            " CAST(i % 4 AS INT)) & 1"
        ).alias("b"),
    )
    sig = bits.groupBy("doc_id", "i").agg(
        F.when(2 * F.sum("b") > F.count(F.lit(1)), 1).otherwise(0).alias("sb")
    )
    bands = sig.groupBy("doc_id", (F.col("i") / 16).cast("int").alias("band")).agg(
        F.sum(F.expr("shiftleft(CAST(sb AS BIGINT), CAST(i % 16 AS INT))")).alias("bv")
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    bx = bands.select(F.col("doc_id").alias("doc_a"), "band", F.col("bv").alias("bva"))
    by = bands.select(F.col("doc_id").alias("doc_b"), "band", F.col("bv").alias("bvb"))
    ham = (
        cand.join(bx, "doc_a")
        .join(by, ["doc_b", "band"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.bit_count(F.col("bva").bitwiseXOR(F.col("bvb"))))
            .cast("int")
            .alias("hamming")
        )
    )
    return ham.where(F.col("hamming") <= _HAM_K)


@register(
    "dedup_containment",
    oracle="""
        WITH toks AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
        ), ex AS (
            SELECT doc_id,
                   UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
            FROM toks WHERE LEN(t) >= 3
        ), sz AS (
            SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id != b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, i / sa.n AS containment, sa.n AS n_a, sb.n AS n_b
        FROM inter
        JOIN sz sa ON sa.doc_id = doc_a
        JOIN sz sb ON sb.doc_id = doc_b
        WHERE i / sa.n >= 0.9
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 asymmetric: shingle CONTAINMENT — ``|A∩B| / |A|``, the directed
    near-dup measure Jaccard misses: a short document quoted wholesale
    inside a long one scores low Jaccard (the union is dominated by the
    long side) but containment ≈ 1 in the short→long direction.  Emitted
    pairs are DIRECTED (doc_a contained in doc_b), so both directions of a
    symmetric near-dup appear — that is the semantics, not duplication.
    Same linear shingle equi-join as the Jaccard key (one reused shingle
    Exchange at runtime); the ratio is one IEEE divide of exact integers —
    no rounding.  Threshold 0.9 ≈ 'at least 90% of A's shingles appear in
    B'."""
    dc = load(spark, sf_dir, "documents")
    ex = (
        dc.repartition(fanout(spark))
        .select("doc_id", F.explode(_shingles()).alias("sh"))
        .repartition(fanout(spark), "sh")
    )
    sz = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    cont = F.col("i") / F.col("n_a")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(cont >= 0.9)
        .select("doc_a", "doc_b", cont.alias("containment"), "n_a", "n_b")
    )


_ED_MIN_SHARED = 10  # candidate gate: pairs sharing >= this many 3-gram shingles
_ED_SIM = 0.8  # keep pairs with edit similarity 1 - lev/max_len >= this


@register(
    "dedup_edit_distance",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
        ), ex AS (
            SELECT doc_id,
                   UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
            FROM toks WHERE LEN(t) >= 3
        ), cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
            FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING COUNT(*) >= {_ED_MIN_SHARED}
        )
        SELECT doc_a, doc_b, shared,
               CAST(LEVENSHTEIN(ta.text, tb.text) AS BIGINT) AS lev,
               1 - LEVENSHTEIN(ta.text, tb.text)
                   / GREATEST(LEN(ta.text), LEN(tb.text)) AS edit_sim
        FROM cand
        JOIN documents ta ON ta.doc_id = doc_a
        JOIN documents tb ON tb.doc_id = doc_b
        WHERE 1 - LEVENSHTEIN(ta.text, tb.text)
                  / GREATEST(LEN(ta.text), LEN(tb.text)) >= {_ED_SIM}
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 fuzzy: character-level near-dup pairs — shingle-blocked candidate
    generation + exact Levenshtein verify, the classic two-stage shape for
    edit-similarity dedup (verify is O(n·m) per pair, so it must only ever
    run on candidates, never n²).  Candidates = pairs sharing >=
    ``_ED_MIN_SHARED`` distinct 3-gram shingles (equi-join, linear in
    shingle volume; the df-cap variant ``dedup_ngram_dfcap`` is the hot-
    shingle skew guard if a corpus needs it); verify keeps pairs with
    ``1 - lev/max(len)`` >= 0.8.  The similarity is one IEEE divide of two
    exact integers on both engines — no rounding needed.  Both stages are
    expressed identically in the DuckDB oracle, so the key is fully
    hash-checked end to end."""
    dc = load(spark, sf_dir, "documents")
    ex = (
        dc.repartition(fanout(spark))
        .select("doc_id", F.explode(_shingles()).alias("sh"))
        .repartition(fanout(spark), "sh")
    )
    a, b = ex.alias("a"), ex.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= _ED_MIN_SHARED)
    )
    ta = dc.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = dc.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    lev = F.levenshtein("text_a", "text_b")
    sim = 1 - lev / F.greatest(F.length("text_a"), F.length("text_b"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(sim >= _ED_SIM)
        .select(
            "doc_a",
            "doc_b",
            "shared",
            lev.cast("bigint").alias("lev"),
            sim.alias("edit_sim"),
        )
    )
