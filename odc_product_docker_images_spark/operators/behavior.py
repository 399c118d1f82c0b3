"""Behavioral sequence + customer-value analytics (SURVEY.md §2.4/§2.10
extensions — the session-sequence and customer-scoring rollups that sit
next to funnel/retention/attribution in every event-analytics warehouse).

Two operators:

* ``agg_markov_transitions`` — the first-order event-type transition
  matrix (the Markov-chain summary behind next-action prediction and
  journey analysis): per-user event ordering via one window ``lag``,
  then a grouped count per (prev, next) pair and a row-normalised
  probability.  Output is |event_types|²-bounded no matter the corpus
  size.

* ``agg_rfm_segments`` — Recency/Frequency/Monetary quartile scoring
  over the orders fact (the classic customer-segmentation rollup).  The
  quartile assignment needs a GLOBAL ordering per metric; a plain
  ``NTILE(4) OVER (ORDER BY …)`` would funnel the whole customer
  dimension through one task, so each metric instead gets
  ``global_prefix``'s distributed rank and the NTILE bucket is derived
  from (rank, n) with exact integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.det import dsum, sql_dsum
from ..functions.prefix import global_prefix
from ..io import fanout, load
from ..registry import register


@register(
    "agg_markov_transitions",
    oracle="""
        WITH o AS (
            SELECT user_id, event_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ), t AS (
            SELECT prev_type, event_type AS next_type,
                   COUNT(*) AS n_trans
            FROM o WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type
        )
        SELECT prev_type, next_type, CAST(n_trans AS BIGINT) AS n_trans,
               CAST(n_trans AS DOUBLE)
                   / CAST(SUM(n_trans) OVER (PARTITION BY prev_type)
                          AS DOUBLE) AS p_trans
        FROM t
    """,
)
def agg_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23: first-order event-type transition matrix — one per-user
    window ``lag`` over the (ts, event_id) order, a grouped transition
    count, and a per-prev-row normalisation window.  Scale shape: the
    only corpus-sized stage is the per-user window shuffle; the matrix
    itself is |types|² rows, so the normalisation window is bounded.
    Determinism: counts are exact bigints; p_trans is one IEEE divide
    of exact operands — left unrounded."""
    ev = (
        load(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .repartition(fanout(spark), "user_id")  # single-file input: parallelize the window
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    wrow = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        F.col("n_trans").cast("bigint").alias("n_trans"),
        (
            F.col("n_trans").cast("double")
            / F.sum("n_trans").over(wrow).cast("double")
        ).alias("p_trans"),
    )


# Fixed recency anchor — just past the fixture's max order date; a fixed
# literal (not a computed max) keeps the metric scale-clean: no global
# aggregate feeding every row.
_ANCHOR = "2001-09-01"
_NTILE_K = 4


def _ntile_from_rank(rk: Column, n: Column, k: int) -> Column:
    """Exact SQL NTILE(k) semantics from a 1-based global rank: the first
    (n % k) buckets carry ceil(n/k) rows, the rest floor(n/k)."""
    sz = F.floor(n / k).cast("bigint")
    big = (n % k).cast("bigint")
    head = big * (sz + 1)
    return (
        F.when(rk <= head, F.floor((rk - 1) / (sz + 1)) + 1)
        .otherwise(big + F.floor((rk - head - 1) / sz) + 1)
        .cast("int")
    )


@register(
    "agg_rfm_segments",
    oracle=f"""
        WITH c AS (
            SELECT o_custkey AS c_custkey,
                   CAST(DATE_DIFF('day', MAX(o_orderdate),
                                  TIMESTAMP '{_ANCHOR} 00:00:00')
                        AS BIGINT) AS recency_days,
                   COUNT(*) AS frequency,
                   {sql_dsum('o_totalprice', 'monetary')}
            FROM orders GROUP BY o_custkey
        )
        SELECT c_custkey, recency_days,
               CAST(frequency AS BIGINT) AS frequency, monetary,
               CAST(NTILE({_NTILE_K}) OVER (
                   ORDER BY recency_days DESC, c_custkey) AS INTEGER
               ) AS r_score,
               CAST(NTILE({_NTILE_K}) OVER (
                   ORDER BY frequency, c_custkey) AS INTEGER) AS f_score,
               CAST(NTILE({_NTILE_K}) OVER (
                   ORDER BY monetary, c_custkey) AS INTEGER) AS m_score
        FROM c
    """,
)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A24: RFM customer segmentation — per-customer recency (days from
    last order to a fixed anchor), frequency (order count) and monetary
    (decimal-exact revenue), each scored into global quartiles where
    score 4 = most recent / most frequent / highest spend.  Spark-first:
    the three global orderings are distributed ranks (range-partition +
    prefix offsets — no single-task NTILE window) chained over the
    customer-dimension aggregate, so every corpus-sized stage is the one
    orders→customer shuffle; the three range shuffles move only the dim
    table.  Ties break on c_custkey everywhere; the NTILE bucket is
    exact integer arithmetic on (rank, n)."""
    c = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.datediff(
                F.lit(_ANCHOR).cast("date"),
                F.max("o_orderdate").cast("date"),
            )
            .cast("bigint")
            .alias("recency_days"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            dsum("o_totalprice", "monetary"),
        )
    )
    # score 4 = most recent / most frequent / highest spend
    for score, first in (
        ("r_score", F.desc("recency_days")),
        ("f_score", F.col("frequency")),
        ("m_score", F.col("monetary")),
    ):
        c = global_prefix(c, [first, "c_custkey"]).select(
            *c.columns,
            _ntile_from_rank(F.col("rk"), F.col("n"), _NTILE_K).alias(score),
        )
    return c


_ABS_T = ("click", "signup", "view")  # transient states (alphabetical)
_ABS_TARGET = "purchase"  # absorbing state of interest


def _c3(e: dict, col: int | None) -> str:
    """General 3x3 Cramer determinant text over entry names; column
    ``col`` (1-3) replaced by the RHS names r1..r3.  Shared verbatim by
    F.expr and the oracle (the ridge-key idiom)."""
    m = [[e[f"a{i}{j}"] for j in (1, 2, 3)] for i in (1, 2, 3)]
    if col is not None:
        for i in range(3):
            m[i][col - 1] = e[f"r{i + 1}"]
    (a, b, c), (d, f, g), (h, i_, j) = m
    return (
        f"{a}*({f}*{j} - {g}*{i_})"
        f" - {b}*({d}*{j} - {g}*{h})"
        f" + {c}*({d}*{i_} - {f}*{h})"
    )


_ABS_E = {
    **{
        f"a{i}{j}": (
            f"(CAST(1.0 AS DOUBLE) - q{i}{j})" if i == j else f"(0.0 - q{i}{j})"
        )
        for i in (1, 2, 3)
        for j in (1, 2, 3)
    },
    "r1": "r1",
    "r2": "r2",
    "r3": "r3",
}


def _abs_cells_sql() -> str:
    parts = []
    for i, src in enumerate(_ABS_T, start=1):
        for j, dst in enumerate(_ABS_T, start=1):
            parts.append(
                f"MAX(CASE WHEN prev = '{src}' AND next = '{dst}'"
                f" THEN p ELSE 0.0 END) AS q{i}{j}"
            )
        parts.append(
            f"MAX(CASE WHEN prev = '{src}' AND next = '{_ABS_TARGET}'"
            f" THEN p ELSE 0.0 END) AS r{i}"
        )
    return ", ".join(parts)


@register(
    "agg_markov_absorption",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY ts, event_id
                   ) AS next
            FROM events
        ), c AS (
            SELECT event_type AS prev, next, COUNT(*) AS n
            FROM seq WHERE next IS NOT NULL
            GROUP BY event_type, next
        ), p AS (
            SELECT prev, next,
                   CAST(n AS DOUBLE)
                     / CAST(SUM(n) OVER (PARTITION BY prev) AS DOUBLE) AS p
            FROM c
        ), wide AS (
            SELECT {_abs_cells_sql()} FROM p
        )
        SELECT ({_c3(_ABS_E, None)}) AS det,
               ({_c3(_ABS_E, 1)})
                   / NULLIF(({_c3(_ABS_E, None)}), CAST(0.0 AS DOUBLE)) AS b_click,
               ({_c3(_ABS_E, 2)})
                   / NULLIF(({_c3(_ABS_E, None)}), CAST(0.0 AS DOUBLE)) AS b_signup,
               ({_c3(_ABS_E, 3)})
                   / NULLIF(({_c3(_ABS_E, None)}), CAST(0.0 AS DOUBLE)) AS b_view
        FROM wide
    """,
)
def agg_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A25+: absorbing-chain conversion probabilities — from the
    empirical transition matrix, the probability that a journey starting
    in each transient state (click/signup/view) is absorbed at
    '{_ABS_TARGET}': b = (I−Q)⁻¹R, the fundamental-matrix form behind
    Markov attribution and funnel-leak analysis.  Closes the loop on
    ``agg_markov_transitions``: that key ESTIMATES the chain, this one
    SOLVES it.

    The 3×3 solve is Cramer's rule with the general (non-symmetric)
    determinant text SHARED VERBATIM between F.expr and the oracle (the
    ridge-key idiom), running in a 1-row stage; everything corpus-sized
    is one lag window + one (prev, next) count — transition probabilities
    are exact integer divides over the ≤|types|² cell table.  Empirical
    semantics: probabilities condition on an observed next event
    (end-of-sequence rows drop on both sides)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("prev"),
        F.lead("event_type").over(w).alias("next"),
    ).where(F.col("next").isNotNull())
    c = seq.groupBy("prev", "next").agg(F.count(F.lit(1)).alias("n"))
    p = c.select(
        "prev",
        "next",
        (
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy("prev")).cast("double")
        ).alias("p"),
    )
    wide = p.agg(*[F.expr(x) for x in _abs_cells_sql().split(", ")])
    return wide.select(
        F.expr(f"({_c3(_ABS_E, None)})").alias("det"),
        F.expr(
            f"({_c3(_ABS_E, 1)}) / NULLIF(({_c3(_ABS_E, None)}), CAST(0.0 AS DOUBLE))"
        ).alias("b_click"),
        F.expr(
            f"({_c3(_ABS_E, 2)}) / NULLIF(({_c3(_ABS_E, None)}), CAST(0.0 AS DOUBLE))"
        ).alias("b_signup"),
        F.expr(
            f"({_c3(_ABS_E, 3)}) / NULLIF(({_c3(_ABS_E, None)}), CAST(0.0 AS DOUBLE))"
        ).alias("b_view"),
    )
