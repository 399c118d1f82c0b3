"""Corpus-curation operators (SURVEY.md §2.10 X4 applied — the pretraining
curation surface beyond filtering: repetition scoring, benchmark
decontamination, domain mixing, shard packing, and duplicate clustering).

Not in the EO reference — these are the training-data operators the north
star adds on top of the dedup/similarity families.  Scale shapes:

- Repetition: one codegen'd map pass per document, no shuffle.
- Decontamination: shingle explode + equi-join on the shingle — the same
  no-n² shape as exact n-gram dedup; the eval side is tiny by definition
  and broadcasts.
- Domain mixing: deterministic hash gate, pure map + one rollup.
- Shard packing: the distributed prefix-sum — range partition, parallel
  within-partition cumsum, tiny per-partition offset table joined back.
  No global single-task window anywhere.
- Duplicate clustering: min-label propagation over the near-dup edge
  list (the Hash-to-Min connected-components shape); rounds bounded by
  component diameter, each round one equi-join + one hash-agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.prefix import global_prefix
from ..io import fanout, load
from ..registry import register
from .shingle import _shingles
from .pipeline import _KNUTH, _bucket, _sql_bucket

# DuckDB twin of _shingles(k=8): positions 1..len-7, 8 terms concatenated
_SQL_SH8 = (
    "LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 6), i -> "
    + " || ' ' || ".join([f"t[i+{j}]" if j else "t[i]" for j in range(8)])
    + "))"
)


@register(
    "text_repetition",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source, STRING_SPLIT(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT doc_id, source,
                   LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shs
            FROM toks WHERE LEN(t) >= 3
        )
        SELECT doc_id, source,
               LEN(shs) AS n_shingles,
               CAST(LEN(shs) - LEN(LIST_DISTINCT(shs)) AS BIGINT) AS n_dup,
               (LEN(shs) - LEN(LIST_DISTINCT(shs))) / LEN(shs) AS dup_frac
        FROM sh
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: intra-document repetition score — the Gopher-style duplicate
    n-gram fraction (templated/boilerplate text shows a high share of
    repeated 3-grams).  One map pass, no shuffle; the per-row double
    division is a single IEEE op so it stays unrounded."""
    dc = load(spark, sf_dir, "documents")
    shs = _shingles(k=3, distinct=False)
    # Three disciplines against the shingle-builder pathologies (3.7s →
    # 0.5s at sf0.1):
    # - filter on the CHEAP token count (≥3 tokens ⇔ ≥1 shingle) instead
    #   of n_shingles > 0: a filter over the builder expression gets
    #   pushed below the repartition and runs the builder SERIALLY on the
    #   single-partition scan;
    # - repartition(fanout): single-file input = one partition otherwise;
    # - project only the two scalar sizes out of the builder, derive the
    #   rest from the scalars (each extra reference to the raw array is
    #   another inlined builder copy under projection collapse — the
    #   dedup_minhash 64-lambda pathology).
    base = (
        dc.where(F.size(F.split("text", " ")) >= 3)
        .repartition(fanout(spark))
        .select(
            "doc_id",
            "source",
            F.size(shs).alias("n_shingles"),
            F.size(F.array_distinct(shs)).alias("n_distinct"),
        )
    )
    n = F.col("n_shingles").cast("bigint")
    nd = (F.col("n_shingles") - F.col("n_distinct")).cast("bigint")
    return base.select(
        "doc_id",
        "source",
        F.col("n_shingles"),
        nd.alias("n_dup"),
        (nd / n).alias("dup_frac"),
    )


@register(
    "text_contamination",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source, STRING_SPLIT(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT doc_id, source, {_SQL_SH8} AS shs
            FROM toks WHERE LEN(t) >= 8
        ), ex AS (
            SELECT doc_id, source, {_sql_bucket()} < 5 AS is_eval, UNNEST(shs) AS sh
            FROM sh
        )
        SELECT tr.doc_id, tr.source,
               COUNT(DISTINCT tr.sh) AS n_shared_shingles,
               COUNT(DISTINCT ev.doc_id) AS n_eval_docs_hit
        FROM ex tr JOIN ex ev ON tr.sh = ev.sh
        WHERE NOT tr.is_eval AND ev.is_eval
        GROUP BY tr.doc_id, tr.source
    """,
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: benchmark decontamination — flag training documents sharing any
    8-gram with the held-out eval slice (the deterministic ~5% hash
    bucket ``sample_split`` carves out).  Candidate generation is a
    shingle equi-join (no n² anywhere); the eval side is a few percent of
    the corpus by construction, so at 100 TB it broadcasts and the train
    side never shuffles."""
    dc = load(spark, sf_dir, "documents")
    ex = dc.repartition(fanout(spark)).select(
        "doc_id",
        "source",
        (_bucket() < 5).alias("is_eval"),
        F.explode(_shingles(k=8)).alias("sh"),
    )
    train = ex.where(~F.col("is_eval"))
    ev = F.broadcast(
        ex.where("is_eval").select(F.col("doc_id").alias("eval_id"), "sh")
    )
    return (
        train.join(ev, "sh")
        .groupBy("doc_id", "source")
        .agg(
            F.count_distinct("sh").alias("n_shared_shingles"),
            F.count_distinct("eval_id").alias("n_eval_docs_hit"),
        )
    )


@register(
    "data_mix_sample",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, source, LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
                   CASE CAST(SUBSTR(source, 4) AS INTEGER) % 4
                        WHEN 0 THEN 100 WHEN 1 THEN 50 WHEN 2 THEN 25
                        ELSE 10 END AS keep_pct
            FROM documents
        )
        SELECT source, MIN(keep_pct) AS keep_pct,
               COUNT(*) AS n_total,
               CAST(SUM(CASE WHEN {_sql_bucket()} < keep_pct THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN {_sql_bucket()} < keep_pct THEN n_tokens
                             ELSE 0 END) AS BIGINT) AS tok_kept
        FROM w GROUP BY source
    """,
)
def data_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: domain mixing — per-source sampling rates (the data-mixture
    weights a pretraining run tunes), applied as the same deterministic
    multiplicative-hash gate as ``sample_split``: reproducible across
    runs, engines, and partitionings, no ``rand()``.  Pure map + one
    rollup; the mixture table here is derived from the source id (a real
    run broadcasts a weights dim instead)."""
    dc = load(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    keep_pct = (
        F.when(src_num % 4 == 0, 100)
        .when(src_num % 4 == 1, 50)
        .when(src_num % 4 == 2, 25)
        .otherwise(10)
    )
    keep = _bucket() < keep_pct
    n_tokens = F.size(F.split(F.col("text"), " "))
    return (
        dc.select("doc_id", "source", n_tokens.alias("n_tokens"), keep_pct.alias("kp"), keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.min("kp").alias("keep_pct"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0)).cast("bigint").alias("tok_kept"),
        )
    )


_SHARD_TOKENS = 2000  # shard budget; fixture docs are ~25-60 tokens


def _shard_ids(w: DataFrame) -> DataFrame:
    """``w`` (doc_id, n_tokens, ...) plus ``shard_id``: the shard that
    holds each document's first token in the doc_id-ordered stream."""
    start = F.col("tok") - F.col("n_tokens")
    return global_prefix(w, ["doc_id"], sums={"tok": "n_tokens"}).withColumn(
        "shard_id", F.floor(start / _SHARD_TOKENS).cast("bigint")
    )


@register(
    "shard_pack",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n_tokens
            FROM documents
        ), c AS (
            SELECT doc_id, n_tokens,
                   SUM(n_tokens) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
            FROM w
        )
        SELECT CAST(start_tok // {_SHARD_TOKENS} AS BIGINT) AS shard_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM c GROUP BY 1
    """,
)
def shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: token-budget shard packing — assign documents (in stable doc_id
    order) to ~2000-token output shards by their starting offset in the
    global token stream: the tokenizer-sharding step between curation and
    training.

    The global prefix sum is ``global_prefix``'s distributed scan,
    never a single-task global window.  The oracle's plain global window
    is the semantic twin; slice boundaries cannot change the result."""
    dc = load(spark, sf_dir, "documents")
    packed = _shard_ids(
        dc.select("doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens"))
    )
    return packed.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("tok_sum"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _shard_manifest_oracle() -> str:
    # deferred import keeps module init order irrelevant (bloom is also
    # a registry module; the helper is pure string formatting)
    from ..sources.bloom import _sql_hex_to_int

    return f"""
        WITH w AS (
            SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
                   MD5(CAST(doc_id AS VARCHAR) || '|' || text) AS h
            FROM documents
        ), c AS (
            SELECT doc_id, n_tokens, h,
                   SUM(n_tokens) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
            FROM w
        ), x AS (
            SELECT CAST(start_tok // {_SHARD_TOKENS} AS BIGINT) AS shard_id,
                   doc_id, n_tokens,
                   {_sql_hex_to_int("h")} AS w1,
                   {_sql_hex_to_int("SUBSTR(h, 9)")} AS w2
            FROM c
        )
        SELECT shard_id, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
               CAST(BIT_XOR(w1) AS BIGINT) AS checksum_a,
               CAST(BIT_XOR(w2) AS BIGINT) AS checksum_b
        FROM x GROUP BY shard_id
    """


@register(
    "shard_manifest_checksum",
    oracle=_shard_manifest_oracle(),
)
def shard_manifest_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/S7++ compose (r11): the cross-shard MANIFEST a training job
    verifies before reading packed shards — ``shard_pack``'s token-budget
    assignment extended with a per-shard order-insensitive content
    checksum (``table_content_checksum``'s XOR-fold of per-row md5 words
    over a canonical ``doc_id|text`` encoding).  One row per shard:
    doc/token counts, doc-id range, and two 32-bit checksum words — any
    single changed/dropped/duplicated document flips its shard's row.

    Scale shape: identical to shard_pack — the global token prefix sum is
    ``global_prefix``'s distributed scan (no single-task global window),
    and the checksum is an XOR so it map-side combines inside the same
    per-shard hash aggregate.  Cross-engine exactness rides the md5-hex
    and integer-fold bridges established by table_content_checksum
    (sources/bloom.py)."""
    dc = load(spark, sf_dir, "documents")
    h = F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), F.col("text")))
    packed = _shard_ids(
        dc.select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
            h.alias("h"),
        )
    ).select(
        "doc_id",
        "n_tokens",
        "shard_id",
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("w1"),
        F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("w2"),
    )
    return packed.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("tok_sum"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.expr("bit_xor(w1)").cast("long").alias("checksum_a"),
        F.expr("bit_xor(w2)").cast("long").alias("checksum_b"),
    )


_CC_ROUNDS = 6  # ≥ near-dup component diameter (measured ≤3 at sf0.1; cliques in practice)


@register(
    "dedup_clusters",
    oracle="""
        WITH RECURSIVE toks AS (
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
        ), pairs AS (
            SELECT doc_a, doc_b FROM inter
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE i / (sa.n + sb.n - i) >= 0.5
        ), edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs
        ), reach(u, v) AS (
            SELECT DISTINCT u, u FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        )
        SELECT cluster_rep, COUNT(*) AS n_members,
               MAX(doc_id) AS member_max, CAST(SUM(doc_id) AS BIGINT) AS member_sum
        FROM (SELECT u AS doc_id, MIN(v) AS cluster_rep FROM reach GROUP BY u)
        GROUP BY cluster_rep
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 closure: near-duplicate CLUSTERS — connected components over the
    exact 3-gram-Jaccard pair graph (a near-dup of a near-dup is the same
    document family; pairs alone under-count dup groups).

    Min-label propagation: every node starts as its own label; each round
    takes the min label over neighbors (one equi-join + one hash-agg per
    round, the Hash-to-Min shape).  Rounds are fixed at ``_CC_ROUNDS`` ≥
    the component diameter — near-dup components are quasi-cliques
    (measured diameter ≤3 at sf0.1; a pytest asserts round ``N+1`` is a
    fixpoint).  The edge list is persisted across rounds (the standard
    iterative-algorithm pattern — at 100 TB this is a checkpoint, and the
    driver loop adds pointer-doubling rounds until a count-of-changes
    action hits zero).  The DuckDB oracle computes the same components by
    recursive transitive closure."""
    dc = load(spark, sf_dir, "documents")
    ex = (
        dc.repartition(fanout(spark))
        .select("doc_id", F.explode(_shingles()).alias("sh"))
        .repartition(fanout(spark), "sh")
    )
    sz = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    pairs = inter.join(sa, "doc_a").join(sb, "doc_b").where(jac >= 0.5)
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).union(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    # Self-loops make each round min(lbl(v) : v ∈ N(u) ∪ {u}) a SINGLE join
    # against the labels frame.  The naive least(self, neighbor-min) form
    # references labels twice per round, so the LOGICAL plan doubles every
    # round and Catalyst analysis goes exponential — persist doesn't help
    # because cache substitution happens after analysis (measured 25s vs
    # ~3s at sf0.01 for the same 6 rounds).  The persisted edge list keeps
    # the shingle-join lineage from re-entering the loop plan.
    nodes = edges.select("u").distinct()
    eself = edges.union(nodes.withColumn("v", F.col("u"))).persist()
    labels = nodes.withColumn("lbl", F.col("u"))
    for _ in range(_CC_ROUNDS):
        labels = (
            eself.join(labels.select(F.col("u").alias("v"), "lbl"), "v")
            .groupBy("u")
            .agg(F.min("lbl").alias("lbl"))
        )
    return (
        labels.groupBy(F.col("lbl").alias("cluster_rep"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("u").alias("member_max"),
            F.sum("u").cast("bigint").alias("member_sum"),
        )
    )


_DF_CAP = 16  # max document frequency a shingle may have and still join


@register(
    "dedup_ngram_dfcap",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
        ), sh AS (
            SELECT doc_id,
                   LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shs
            FROM toks WHERE LEN(t) >= 3
        ), ex0 AS (
            SELECT doc_id, UNNEST(shs) AS sh FROM sh
        ), ex AS (
            SELECT doc_id, sh FROM ex0
            QUALIFY COUNT(*) OVER (PARTITION BY sh) <= {_DF_CAP}
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
def dedup_ngram_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 at scale: exact n-gram Jaccard with a DOCUMENT-FREQUENCY CAP —
    shingles appearing in more than ``_DF_CAP`` documents are dropped
    BEFORE the self-join on BOTH engines (jaccard is then computed over
    the capped shingle sets, so parity stays exact).

    This is the production guard for the one failure mode of the
    shingle-join design: a boilerplate shingle shared by M documents
    contributes M² join rows — one hot shingle in 1% of a 100 TB corpus
    is a 10¹²-row skew key.  Capped df bounds the per-shingle fanout at
    ``_DF_CAP``², making worst-case join volume linear in corpus size;
    what the cap can no longer see is exactly the similarity carried by
    corpus-ubiquitous text, which near-dup detection WANTS to ignore
    (same rationale as stop-words).  The cap itself is one hash-agg over
    the exploded shingles, reusing the same Exchange as the join."""
    dc = load(spark, sf_dir, "documents")
    ex0 = (
        dc.repartition(fanout(spark))
        .select("doc_id", F.explode(_shingles()).alias("sh"))
        .repartition(fanout(spark), "sh")
    )
    df_w = Window.partitionBy("sh")
    ex = ex0.withColumn("df", F.count(F.lit(1)).over(df_w)).where(
        F.col("df") <= _DF_CAP
    ).drop("df")
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


@register(
    "text_compression_ratio",
    doc="rows-only: zlib codec output — stdlib-zlib pytest oracle",
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: zlib compression-ratio quality signal — the classic
    repetitive-boilerplate detector in LLM curation stacks (highly
    compressible text is templated/spammy; near-incompressible text is
    often binary junk): ratio = deflate(text)/len(text) at a PINNED
    level (6), plus the decile bucket filters cut on.  zlib's DEFLATE
    output is deterministic for a fixed level/strategy/library, but not
    SQL-expressible → rows-only key; the pytest oracle recomputes with
    stdlib zlib and pins the band properties.  Arrow-batched map pass
    (zlib is C — the Python loop only drives it); zero shuffle."""
    import pandas as pd

    dc = load(spark, sf_dir, "documents")

    def score(batches):
        import zlib

        for pdf in batches:
            texts = pdf["text"].tolist()
            comp = [len(zlib.compress(t.encode("utf-8"), 6)) for t in texts]
            raw = [len(t.encode("utf-8")) for t in texts]
            ratio = [c / r if r else 1.0 for c, r in zip(comp, raw)]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": raw,
                    "deflate_bytes": comp,
                    "ratio": ratio,
                    "decile": [min(9, int(x * 10)) for x in ratio],
                }
            )

    return dc.select("doc_id", "text").mapInPandas(
        score,
        schema="doc_id long, raw_bytes long, deflate_bytes long,"
        " ratio double, decile int",
    )


@register(
    "compression_gate",
    oracle="""
        SELECT doc_id,
               STRLEN(text) AS raw_bytes,
               TRUE AS raw_match,
               TRUE AS deflate_match,
               TRUE AS roundtrip_exact,
               TRUE AS within_bound,
               TRUE AS decile_consistent
        FROM documents
    """,
)
def compression_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 codec-quality gate — the ``sketch_error_gates`` pattern applied
    to the ⊘rows-only ``text_compression_ratio`` key, so a zlib-path
    regression flips a driver hash row.  DEFLATE output bytes are not
    SQL-expressible, but these properties are pinnable per document:

    - ``raw_bytes``: the UTF-8 byte length the production key divides by
      must equal the oracle's STRLEN(text) — a direct cross-engine value,
      not a boolean (Spark octet semantics vs DuckDB byte semantics).
    - ``deflate_match``: an INDEPENDENT audit pass recompresses with the
      same pinned (level=6, stdlib zlib) call and must reproduce the
      production key's byte count — catches a level/strategy drift.
    - ``roundtrip_exact``: zlib.decompress(compress(text)) == text bytes —
      the losslessness contract itself.
    - ``within_bound``: compressed size within zlib's published
      compressBound envelope n + (n>>12) + (n>>14) + (n>>25) + 13.
    - ``decile_consistent``: the production decile equals the audit's
      recomputation of min(9, int(ratio·10)) — computed IN the audit
      kernel with the identical float expression, so the comparison is
      bitwise, not a reimplementation in SQL float semantics.

    Shape: the production map pass joined to one audit map pass on
    doc_id — two Arrow passes and one equi-join shuffle; gate cost is
    ~2× the key's cost, on the smallest fixture table."""
    import pandas as pd

    base = text_compression_ratio(spark, sf_dir)
    dc = load(spark, sf_dir, "documents")

    def audit(batches):
        import zlib

        for pdf in batches:
            raws, comps, rts, decs = [], [], [], []
            for t in pdf["text"]:
                raw = t.encode("utf-8")
                c = zlib.compress(raw, 6)
                raws.append(len(raw))
                comps.append(len(c))
                rts.append(zlib.decompress(c) == raw)
                # identical float expression to the production key
                # (empty text: production pins ratio=1.0 -> min(9, 10) = 9)
                decs.append(min(9, int(len(c) / len(raw) * 10)) if raw else 9)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "a_raw": raws,
                    "a_comp": comps,
                    "a_rt": rts,
                    "a_dec": decs,
                }
            )

    aud = dc.select("doc_id", "text").mapInPandas(
        audit, schema="doc_id long, a_raw long, a_comp long, a_rt boolean, a_dec int"
    )
    bound = (
        F.col("a_raw")
        + F.shiftright("a_raw", 12)
        + F.shiftright("a_raw", 14)
        + F.shiftright("a_raw", 25)
        + F.lit(13)
    )
    return base.join(aud, "doc_id").select(
        "doc_id",
        F.col("a_raw").alias("raw_bytes"),
        (F.col("raw_bytes") == F.col("a_raw")).alias("raw_match"),
        (F.col("deflate_bytes") == F.col("a_comp")).alias("deflate_match"),
        F.col("a_rt").alias("roundtrip_exact"),
        (F.col("a_comp") <= bound).alias("within_bound"),
        (F.col("decile") == F.col("a_dec")).alias("decile_consistent"),
    )
